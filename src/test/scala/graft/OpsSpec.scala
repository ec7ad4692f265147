package graft

import graft.ops.{Multimodal, Parity, Similarity, Text}
import org.apache.spark.sql.functions._

/** Operator-level checks at sf0.001 (the driver's smoke SF) — the
  * oracle gate runs at sf0.01; these pin behavior on tiny/degenerate
  * data and engine-side invariants the oracle can't see. */
class OpsSpec extends SparkSpec {

  test("entry flagship query returns rows with the contract schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.take(2).toSeq == Seq("l_returnflag", "l_linestatus"))
    assert(df.count() > 0)
  }

  test("every query name has distinct, well-formed registration") {
    val names = SparkEntry.allSpecs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z][a-z0-9_]+")))
    // oracle keys are a subset of query names
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("all queries execute at sf0.001 (smoke SF) without error") {
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try { fn(spark, sf0001).count(); None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("MinHash-LSH near-dup pairs equal the exact Jaccard pairs") {
    val exact = SparkEntry.queries("t08_jaccard_pairs")(spark, sf0001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = SparkEntry.queries("t09_minhash_lsh")(spark, sf0001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.nonEmpty) // fixtures plant near-duplicates
    assert(lsh.toSet == exact.toSet)
  }

  test("text pair collapse: duplicated corpus yields the brute-force pairs") {
    // the sf1 rehearsal regime for the TEXT pair family: bit-identical
    // copies of every document at shifted ids turn the shingle/band
    // self-joins quadratic, so t08/t09 collapse identical texts to a
    // min-id representative and expand member pairs back. The expanded
    // output must be EXACTLY the relation the uncollapsed enumeration
    // defines — including intra-group pairs at 1.0 and the absence of
    // pairs for shingle-less duplicates.
    val off = 100000L
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dup-docs").toString
    val docs = Tables.documents(spark, sf0001)
    (0 to 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * off)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // brute-force twin computed inline with the same shingle
    // expression — the pre-collapse plan, verbatim
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(Text.shingles).as("s")).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.toDF("da", "s").join(sh.toDF("db", "s"), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .select(col("da"), col("db"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val t08 = SparkEntry.queries("t08_jaccard_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val t09 = SparkEntry.queries("t09_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    sh.unpersist()
    assert(brute.nonEmpty)
    assert(t08 == brute)
    assert(t09 == brute)
    // the duplicated corpus (2000 docs) sits ABOVE the routing anchor,
    // so the t08 equality above exercised the LSH scale path — pin the
    // routing itself so a future anchor change can't silently turn
    // this back into an exact-join test
    assert(!Text.exactAnchor(spark, dir),
      "duplicated corpus must route t08 through LSH")
    assert(Text.exactAnchor(spark, sf0001),
      "gate SF must stay on the exact oracle anchor")
  }

  test("LSH bucket ceiling: boilerplate run bounds candidates, pairs unchanged") {
    // the adversarial regime dup-collapse does NOT cover: a shared
    // boilerplate block across DISTINCT docs (license header) drives
    // whole bands to a common key. Inject a 120-word block into 30%
    // of docs, then pin the three-way contract of the bucket ceiling:
    // (a) a BINDING cap bounds candidates to Σ min(cap,|B|)·|B|,
    //     strictly below the uncapped self-join;
    // (b) at the DEFAULT cap (binds only at ≥4096-doc band agreement,
    //     far beyond any bucket here) the pipeline still emits
    //     exactly the brute-force pairs on the injected corpus;
    // (c) under the binding cap the dedup CLUSTERING is unchanged —
    //     thinned intra-cluster pairs keep resident-hub connectivity,
    //     so t12-style components equal the exact ones.
    val boiler = (1 to 120).map(i => s"boilerplate$i").mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-boiler-docs").toString
    Tables.documents(spark, sf0001)
      .withColumn("text",
        when(col("doc_id") % 10 < 3,
          concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bands = Text.lshBandKeys(
      spark.read.parquet(s"$dir/documents.parquet")).distinct().cache()
    val uncappedDf = Text.lshBandCandidates(bands, Int.MaxValue)
    val uncapped = uncappedDf.collect().length.toLong
    val cappedDf = Text.lshBandCandidates(bands, 4)
    val capped = cappedDf.collect().length.toLong
    // a BINDING cap is observable, never silent: the CollectMetrics
    // observation on the ranked relation recorded ceiling buckets and
    // dropped candidate rows in the same pass (and proves the cap
    // filter did NOT push below the metrics barrier)
    def capMetric(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.observedMetrics.collectFirst {
        case (name, row) if name.startsWith("graft_cap_") => row
      }.get
    val hit = capMetric(cappedDf)
    assert(hit.getLong(0) > 0, s"no ceiling bucket observed: $hit")
    assert(hit.getLong(1) > 0, s"no dropped rows observed: $hit")
    assert(hit.getString(2) == "shingle-band")
    val miss = capMetric(uncappedDf)
    assert(miss.getLong(0) == 0 && miss.getLong(1) == 0,
      s"non-binding cap reported drops: $miss")
    val bound = bands.groupBy("band", "bh").count()
      .agg(sum(least(lit(4L), col("count")) * col("count")))
      .head().getLong(0)
    bands.unpersist()
    assert(capped <= bound, s"capped=$capped bound=$bound")
    assert(capped < uncapped,
      s"cap must bind on the hot buckets: capped=$capped uncapped=$uncapped")
    // brute-force exact pairs on the injected corpus
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(Text.shingles).as("s")).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.toDF("da", "s").join(sh.toDF("db", "s"), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .select(col("da"), col("db"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    sh.unpersist()
    val lshDefault = Text.lshJaccardPairs(spark, dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(brute.nonEmpty)
    assert(lshDefault == brute,
      s"missing=${brute -- lshDefault} extra=${lshDefault -- brute}")
    // (c): components over binding-cap pairs == components over exact
    // pairs — the boilerplate cohort stays ONE cluster through its
    // resident hubs even though its intra-cluster pair list thinned
    def components(pairs: org.apache.spark.sql.DataFrame) =
      Text.connectedComponents(pairs.select("da", "db"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val ccCapped = components(
      Text.lshJaccardPairs(spark, dir, 0.8, bucketCap = 4))
    val ccExact = components(Text.lshJaccardPairs(spark, dir, 0.8))
    assert(ccCapped == ccExact,
      s"capped components diverge: ${ccCapped.size} vs ${ccExact.size}")
  }

  test("t08 routing probe re-counts a corpus rewritten within the session") {
    // the size memo is keyed by (dir, file fingerprint): a REWRITE of
    // documents.parquet inside one session must flip the exact/LSH
    // routing decision instead of reusing the stale count
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sizememo").toString
    def write(n: Int) = spark.range(n)
      .selectExpr("id AS doc_id", "'alpha beta gamma delta' AS text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(10)
    assert(Text.exactAnchor(spark, dir))
    assert(Text.exactAnchor(spark, dir)) // unchanged dir: memo hit
    assert(Tables.documents(spark, dir).count() == 10)
    write(Text.ExactAnchorRows.toInt + 500)
    assert(!Text.exactAnchor(spark, dir),
      "stale size memo survived a corpus rewrite")
    // the fix reaches the DATA reads too, not just the probe: the
    // Tables memo is fingerprint-keyed, so queries after the rewrite
    // scan the current files instead of a snapshot of deleted ones
    assert(Tables.documents(spark, dir).count() ==
      Text.ExactAnchorRows + 500)
    // ...and superseded fingerprints REPLACE their memo entry rather
    // than accreting one per rewrite for the session's lifetime
    val entries = Tables.memoEntryCount(spark)
    (1 to 3).foreach { k =>
      write(20 + k)
      assert(Tables.documents(spark, dir).count() == 20 + k)
    }
    assert(Tables.memoEntryCount(spark) == entries,
      "repeated rewrites accreted memo entries")
  }


  test("rep-level dup clustering equals CC over the expanded member pairs") {
    // dupClusterLabels clusters the REPRESENTATIVE pair graph and
    // propagates labels through the dup mapping; the definition it
    // must equal is CC over the fully expanded member pairs — on a
    // natural corpus AND on the heavy-duplication regime where the
    // expanded graph inflates quadratically (the sf10 rehearsal's
    // failure shape: 24.7M expanded edges vs a few hundred rep edges)
    def expanded(d: String) = Text.connectedComponents(
        Text.lshJaccardPairs(spark, d, 0.8).select("da", "db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def reps(d: String) = Text.dupClusterLabels(spark, d, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reps(sf0001) == expanded(sf0001))
    // 7 exact copies of every doc, ids reseeded per copy
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dupcc").toString
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
    (0 until 7)
      .map(k => base.select(
        (col("doc_id") + lit(k * 1000000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val viaReps = reps(dir)
    assert(viaReps == expanded(dir))
    assert(viaReps.nonEmpty)
  }

  test("t12/t49 share one session-memoized LSH+CC labels relation") {
    // compute reuse, not just plan reuse: both consumers must get the
    // SAME checkpointed labels frame per (dir, threshold)
    val a = Text.dupClusterLabels(spark, sf0001, 0.8)
    assert(Text.dupClusterLabels(spark, sf0001, 0.8) eq a)
    // a different threshold is a different clustering — no false share
    assert(!(Text.dupClusterLabels(spark, sf0001, 0.7) eq a))
  }

  test("s04 collapse equals the uncollapsed LSH pipeline under duplication") {
    import graft.ops.Similarity
    // same regime for the embedding pair family: the collapsed path
    // (LSH + cosine on distinct vectors, members expanded back) must
    // equal the raw LSH pipeline over the duplicated corpus pair-for-
    // pair AND cosine-for-cosine — identical vectors share every
    // bucket probe, so the comparison is deterministic.
    val off = 100000L
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val corpus = (0 to 3).map(k => base.select(
        (col("vec_id") + lit(k * off)).as("vec_id"),
        col("embedding"))).reduce(_ union _)
    val collapsed = Similarity
      .neardupPairsCollapsed(spark, null, 0.4, Some(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val raw = Similarity
      .neardupEdges(spark, null, allPairs = false, 0.4, Some(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(raw.nonEmpty)
    assert(collapsed == raw)
  }

  test("s05 collapse equals the uncollapsed top-k pipeline under duplication") {
    import graft.ops.Similarity
    import graft.functions.VectorExprs.{vecDot, vecNorm}
    val off = 100000L
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val corpus = (0 to 3).map(k => base.select(
        (col("vec_id") + lit(k * off)).as("vec_id"),
        col("embedding"))).reduce(_ union _)
    val collapsed = Similarity
      .annTopPairsCollapsed(spark, null, 100, Some(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // uncollapsed twin: the pre-round-6 s05 plan verbatim over the
    // raw duplicated corpus (top-LshTables·k undeduped cut → distinct
    // → top-k; the cut bound counts DISTINCT pairs, so it survives
    // duplication)
    val withVec = corpus.select(col("vec_id"), col("embedding"),
      vecNorm(col("embedding")).as("nrm"))
    val raw = Similarity
      .lshCandidatePairs(spark, null, dedup = false, corpus = Some(corpus))
      .join(withVec.toDF("va", "ea", "na"), "va")
      .join(withVec.toDF("vb", "eb", "nb"), "vb")
      .select(col("va"), col("vb"),
        (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .orderBy(desc("cos"), col("va"), col("vb"))
      .limit(Similarity.LshTables * 100)
      .distinct()
      .orderBy(desc("cos"), col("va"), col("vb"))
      .limit(100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(raw.size == 100)
    assert(collapsed == raw)
  }

  test("exact dedup accounting is self-consistent") {
    val rows = SparkEntry.queries("t07_exact_dedup")(spark, sf0001).collect()
    rows.foreach { r =>
      val (distinct, docs, removed) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(docs == distinct + removed)
    }
  }

  test("parity catalog keeps only file-facet items and defaults flags") {
    val cat = SparkEntry.queries("p01_catalog_discovery")(spark, sf0001)
    val rows = cat.collect()
    assert(rows.length == 5) // 7 drive items, 2 are folders
    val scans = rows.filter(_.getString(1) == "Scans").head
    assert(scans.getString(5) == "False") // null flag defaulted
    // gating: do_delete never true when archive flag is false
    val gating = SparkEntry.queries("p04_flag_gating")(spark, sf0001)
      .collect()
    gating.foreach { r =>
      if (r.getBoolean(4)) assert(r.getBoolean(3))
    }
  }

  test("BMP decoder: golden hand-written 2x1 file decodes exactly") {
    // 2×1 px, 24bpp: rowSize = 8 (2 pad bytes). Pixels in file order
    // (single row): (B,G,R) = (1,2,3) at x=0, (4,5,6) at x=1.
    val golden = Array[Int](
      'B', 'M', 62, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
      40, 0, 0, 0, 2, 0, 0, 0, 1, 0, 0, 0,            // DIB: 2 x 1
      1, 0, 24, 0, 0, 0, 0, 0, 8, 0, 0, 0,            // planes/bpp/BI_RGB
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, // dpi + palette
      1, 2, 3, 4, 5, 6, 0, 0                          // row + 2 pad bytes
    ).map(_.toByte)
    val (w, h, mr, mg, mb, r00, g00, b00) = Multimodal.decodeBmp(golden)
    assert((w, h) == ((2, 1)))
    assert((mr, mg, mb) == ((4.5, 3.5, 2.5))) // pad bytes NOT in means
    assert((r00, g00, b00) == ((3, 2, 1)))    // BGR unwound
  }

  test("BMP round-trip: encode → decode inverts at every padding residue") {
    // w = 4..7 covers rowSize padding of 0..3 bytes; bottom-up rows
    for (w <- 4 to 7; h <- Seq(3, 5)) {
      val id = 37L
      val (dw, dh, mr, mg, mb, r00, g00, b00) =
        Multimodal.decodeBmp(Multimodal.encodeBmp(id, w, h))
      assert((dw, dh) == ((w, h)))
      val px = for (x <- 0 until w; y <- 0 until h) yield
        ((id*19 + x*23 + y*29) % 256, (id*11 + x*13 + y*17) % 256,
         (id*7 + x*3 + y*5) % 256)
      assert(mr == px.map(_._1).sum.toDouble / (w * h))
      assert(mg == px.map(_._2).sum.toDouble / (w * h))
      assert(mb == px.map(_._3).sum.toDouble / (w * h))
      // top-left pixel = formula at (0,0): catches a decoder that
      // forgets BMP scanlines are stored bottom-up
      assert((r00.toLong, g00.toLong, b00.toLong) ==
        ((id*19 % 256, id*11 % 256, id*7 % 256)))
    }
  }

  test("BMP decoder: top-down (negative height) variant and loud failures") {
    // flip the golden encode to top-down by negating height in place
    val bs = Multimodal.encodeBmp(7L, 5, 4)
    val bb = java.nio.ByteBuffer.wrap(bs.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val h = bb.getInt(22)
    bb.putInt(22, -h)
    // rows are now interpreted top-down: the FIRST file row becomes
    // image row 0, which in the bottom-up original was row h-1 — the
    // corner pixel must move; means are permutation-invariant
    val (_, _, mr, _, _, r00, _, _) = Multimodal.decodeBmp(bs)
    val (_, _, mr2, _, _, r00td, _, _) = Multimodal.decodeBmp(bb.array())
    assert(mr == mr2)
    assert(r00td == ((7L*19 + 29*(h - 1)) % 256).toInt && r00 != r00td)
    // not-a-BMP and unsupported bpp fail loudly, never guess
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp("plainly not an image".getBytes)
    }
    val bad = bs.clone(); bad(28) = 8 // claim 8bpp
    intercept[IllegalArgumentException](Multimodal.decodeBmp(bad))
  }

  test("aHash and resize decoders: top-down variant and loud failures") {
    // top-down flip: aHash blocks/bits and the resize features are
    // defined in IMAGE coordinates, so both decoders must agree with
    // the bottom-up original bit-for-bit
    val bs = Multimodal.encodeBmp(11L, 9, 8)
    val bb = java.nio.ByteBuffer.wrap(bs.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // a top-down file stores image rows in reverse file order: rebuild
    // by swapping whole scanlines, then negate the height field
    val w = bb.getInt(18); val h = bb.getInt(22)
    val rowSize = ((3 * w + 3) / 4) * 4
    val td = bs.clone()
    for (y <- 0 until h)
      System.arraycopy(bs, 54 + (h - 1 - y) * rowSize, td,
        54 + y * rowSize, rowSize)
    val tb = java.nio.ByteBuffer.wrap(td)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tb.putInt(22, -h)
    assert(Multimodal.decodeBmpAhash(11L, bs) ==
      Multimodal.decodeBmpAhash(11L, tb.array()))
    assert(Multimodal.decodeBmpResize(11L, bs, 4, 3) ==
      Multimodal.decodeBmpResize(11L, tb.array(), 4, 3))
    // loud failures: garbage, sub-8x8 aHash input, truncated pixels,
    // degenerate resize target
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmpAhash(1L, "not an image at all!".getBytes)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmpAhash(1L, Multimodal.encodeBmp(1L, 5, 4))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmpResize(1L, bs.take(60), 4, 3)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmpResize(1L, bs, 0, 3)
    }
  }

  test("multimodal decode: batched partition decode preserves rows") {
    val docs = Tables.documents(spark, sf0001)
    val out = Multimodal.decodeBmpFeatures(spark,
      Multimodal.bmpFixture(spark, sf0001), batchSize = 7)
    assert(out.count() == docs.count())
    val r = out.orderBy("doc_id").head()
    // n_bytes is the true BMP file size for that doc's dims
    val nc = docs.orderBy("doc_id").select("n_chars").head().getLong(0)
    val (w, h) = ((4 + nc % 13).toInt, (3 + nc % 7).toInt)
    assert(r.getInt(1) == 54 + ((3 * w + 3) / 4) * 4 * h)
    assert((r.getInt(2), r.getInt(3)) == ((w, h)))
  }

  test("multimodal binaryFile source: m08 round-trips files ≡ the column path") {
    // the file-source path must produce exactly the column-path (m03)
    // features, plus the path-derived name agreeing with doc_id
    val viaFiles = SparkEntry.queries("m08_binary_source")(spark, sf0001)
      .orderBy("doc_id")
    val viaColumn = SparkEntry.queries("m03_decode_features")(spark, sf0001)
      .orderBy("doc_id")
    val f = viaFiles.collect()
    val c = viaColumn.collect()
    assert(f.length == c.length && f.length > 0)
    f.zip(c).foreach { case (a, b) =>
      assert(a.getString(0) == s"${b.getLong(0)}.bmp") // file_name ↔ doc_id
      assert(a.toSeq.drop(1) == b.toSeq)               // identical features
    }
  }

  test("WAV decoder: golden hand-written mono file decodes exactly") {
    // canonical minimal PCM WAV: fmt(16) + data with 2 frames 100, -200
    val golden = Array[Int](
      'R', 'I', 'F', 'F', 40, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0,
      1, 0,            // PCM
      1, 0,            // mono
      64, 31, 0, 0,    // 8000 Hz
      128, 62, 0, 0,   // byte rate 16000
      2, 0,            // block align
      16, 0,           // bits
      'd', 'a', 't', 'a', 4, 0, 0, 0,
      100, 0,          // +100
      56, 255          // -200 (0xFF38)
    ).map(_.toByte)
    val (rate, nch, nf, m0, m1, s0, pk) = Multimodal.decodeWav(golden)
    assert((rate, nch, nf) == ((8000, 1, 2)))
    assert(m0 == -50.0 && m1.isEmpty) // mono: no ch1 mean
    assert((s0, pk) == ((100, 200)))
  }

  test("WAV round-trip: encode → decode inverts, mono and stereo") {
    for (nch <- 1 to 2; rate <- Seq(8000, 44100); nf <- Seq(50, 97);
         lsize <- Seq(4, 8)) {
      val id = 37L
      val (dr, dc, dn, m0, m1, s0, pk) =
        Multimodal.decodeWav(Multimodal.encodeWav(id, rate, nch, nf, lsize))
      assert((dr, dc, dn) == ((rate, nch, nf)))
      def v(i: Int, c: Int): Long = ((id * 31 + i * 7 + c * 13) % 65536) - 32768
      assert(m0 == (0 until nf).map(v(_, 0)).sum.toDouble / nf)
      assert(m1 == (if (nch == 2)
        Some((0 until nf).map(v(_, 1)).sum.toDouble / nf) else None))
      assert(s0.toLong == v(0, 0))
      assert(pk.toLong == (for (i <- 0 until nf; c <- 0 until nch)
        yield math.abs(v(i, c))).max)
    }
  }

  test("WAV decoder: walks odd-size chunks with padding; loud failures") {
    // splice an odd-sized junk chunk between fmt and LIST: the RIFF
    // spec pads chunk bodies to even offsets, so a walker that forgets
    // the pad byte desyncs and fails on a garbage tag
    val base = Multimodal.encodeWav(7L, 8000, 2, 10, 4)
    val junk = Array[Byte]('j', 'u', 'n', 'k', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.slice(0, 36) ++ junk ++ base.slice(36, base.length)
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8) // fix RIFF size
    assert(Multimodal.decodeWav(spliced) == Multimodal.decodeWav(base))
    // not-RIFF, non-PCM, and inconsistent-header payloads fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("plainly not audio bytes xxxx".getBytes)
    }
    val bad8 = base.clone(); bad8(34) = 8 // claim 8-bit samples
    intercept[IllegalArgumentException](Multimodal.decodeWav(bad8))
    val badRate = base.clone(); badRate(28) = (badRate(28) + 1).toByte
    intercept[IllegalArgumentException](Multimodal.decodeWav(badRate))
  }

  test("WAV batched partition decode preserves rows and file sizes") {
    val docs = Tables.documents(spark, sf0001)
    val out = Multimodal.decodeWavFeatures(spark,
      Multimodal.wavFixture(spark, sf0001), batchSize = 7)
    assert(out.count() == docs.count())
    val r = out.orderBy("doc_id").head()
    val nc = docs.orderBy("doc_id").select("n_chars").head().getLong(0)
    val (nch, nf, ls) =
      ((1 + nc % 2).toInt, (50 + nc % 211).toInt, (4 + 2 * (nc % 3)).toInt)
    assert(r.getInt(1) == 12 + 24 + 8 + ls + 8 + nf * nch * 2)
    assert(r.getInt(3) == nch && r.getInt(4) == nf)
  }

  test("events loader: accepts both ts physical types, rejects others") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = "target/tmp/events_ts_variants"
    val micros = 1500000000123456L // 2017-07-14T02:40:00.123456Z
    def pad(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("event_id", lit(1L))
        .withColumn("user_id", lit(2L))
        .withColumn("event_type", lit("click"))
        .withColumn("value", lit(1.0))
        .withColumn("props", lit("{}"))
    // generation A: int64 nanos read back as LongType (nanosAsLong)
    pad(Seq(micros * 1000).toDF("ts"))
      .write.mode("overwrite").parquet(s"$base/long/events.parquet")
    // generation B: timestamp[us] isAdjustedToUTC=false → TimestampNTZ
    pad(Seq(micros).toDF("us")
        .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    for (gen <- Seq("long", "ntz")) {
      val ev = Tables.events(spark, s"$base/$gen")
      assert(ev.schema("ts").dataType == TimestampType, gen)
      val got = ev.select(unix_micros(col("ts"))).head().getLong(0)
      assert(got == micros, s"$gen: epoch micros must be preserved")
    }
    // an unexpected physical type fails loudly, never silently casts
    pad(Seq("2017-07-14").toDF("ts"))
      .write.mode("overwrite").parquet(s"$base/str/events.parquet")
    intercept[IllegalStateException](Tables.events(spark, s"$base/str"))
  }

  test("grant-if-absent is idempotent: re-applying grants nothing") {
    import spark.implicits._
    val perms = Parity.permissionsDf(spark)
    val requests = Seq("host,s1,w1", "host,s3,w3", "host,s4,w4")
      .toDF("site_id")
    val first = Parity.grantIfAbsent(perms, requests, "aaaa-1111",
      "Site Access App")
    // s1 already holds the grant; s3 (null grantee list) and s4
    // (other app only) get new rows
    assert(first.select("site_id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("host,s3,w3", "host,s4,w4"))
    // K5 re-run: the post-state already contains every grant
    val post = perms.unionByName(first)
    val second = Parity.grantIfAbsent(post, requests, "aaaa-1111",
      "Site Access App")
    assert(second.isEmpty)
  }

  test("HLL approximate-distinct tracks its exact twin within rel-error") {
    // e09 (approx daily users) vs exact countDistinct — Spark's HLL++
    // at default rsd 0.05; assert 3× slack (deterministic: fixed data,
    // fixed hash). The oracle can't check these (DuckDB's HLL differs),
    // so this bound IS their correctness signal.
    val approx = SparkEntry.queries("e09_approx_users_daily")(spark, sf0001)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf0001)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, n) =>
      val a = approx(day)
      assert(math.abs(a - n).toDouble / n <= 0.15,
        s"$day: approx $a vs exact $n")
    }
    // q23 vs exact distinct parts/orders per returnflag
    val q23 = SparkEntry.queries("q23_approx_distinct")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ex = Tables.lineitem(spark, sf0001).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(q23.nonEmpty)
    q23.foreach { case (flag, ap, ao) =>
      val (ep, eo) = ex(flag)
      assert(math.abs(ap - ep).toDouble / ep <= 0.15,
        s"$flag parts: approx $ap vs exact $ep")
      assert(math.abs(ao - eo).toDouble / eo <= 0.15,
        s"$flag orders: approx $ao vs exact $eo")
    }
  }

  test("ANN LSH recalls the exact top near-duplicate pairs") {
    // s05's candidate generation is approximate; its correctness
    // signal is recall against the exact all-pairs baseline s04
    // (deterministic: fixed hyperplane seed + fixed data)
    val exact = SparkEntry.queries("s04_neardup_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val topExact = exact.sortBy(-_._3).take(20)
      .map(t => (t._1, t._2)).toSet
    val lsh = SparkEntry.queries("s05_ann_lsh")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(topExact.nonEmpty)
    val recall = topExact.count(lsh.contains).toDouble / topExact.size
    info(s"s05 recall of exact top-${topExact.size}: $recall")
    assert(recall >= 0.9, s"LSH recall $recall below floor")
  }

  test("semantic dedup labels: exact-duplicate collapse preserves components") {
    import graft.ops.Similarity
    // the sf1 rehearsal regime: exact copies of every vector at
    // shifted ids (the duplication that made raw LSH bucket joins
    // quadratic). The collapsed path must produce EXACTLY the labels
    // of the uncollapsed LSH pipeline — identical vectors share all
    // exact-bucket probes, so duplicate gluing is deterministic, not
    // probabilistic.
    val base = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val corpus = (0 to 3).map(k => base.select(
        (col("vec_id") + lit(k * 100000L)).as("vec_id"),
        col("embedding"))).reduce(_ union _)
    val collapsed = Similarity.semanticDedupLabels(spark, null, Some(corpus))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // uncollapsed twin: LSH edges over the raw duplicated corpus
    val rawEdges = Similarity.neardupEdges(spark, null,
        allPairs = false, 0.4, Some(corpus))
      .select(col("va").as("da"), col("vb").as("db"))
    val raw = graft.ops.Text.connectedComponents(rawEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = base.count()
    assert(collapsed.size == 4 * n) // every member labeled
    // no vertex is edgeless here (each has 3 exact copies), so the
    // two maps must coincide on every vertex
    assert(raw.size == collapsed.size)
    assert(collapsed == raw)
    // duplicates of one vector always share a component, and the
    // label honors the min-member contract
    collapsed.foreach { case (id, c) =>
      assert(collapsed(id % 100000L) == c, s"copies of $id split") }
    collapsed.values.toSet.foreach { c: Long =>
      assert(collapsed(c) == c, s"component $c not labeled by its min") }
  }

  test("LSH recall vs table count: measured sweep behind the 12-table default") {
    import graft.ops.Similarity
    // candidate-level recall of the exact near-dup edge set (≥0.4) —
    // the quantity the table count actually buys; numbers feed the
    // SCALE.md recall-vs-cost table. Fixed seed + prefix-stable
    // plane sequence make the sweep deterministic.
    val exact = SparkEntry.queries("s04_neardup_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(exact.nonEmpty)
    val sweep = Seq(4, 8, 12, 16).map { t =>
      val cands = Similarity.lshCandidatePairs(spark, sf0001,
          dedup = true, tables = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = exact.count(cands.contains).toDouble / exact.size
      t -> (rec, cands.size)
    }
    sweep.foreach { case (t, (rec, n)) =>
      info(f"T=$t%2d tables: edge recall $rec%.3f, ${n}%d candidate pairs") }
    // recall is monotone in tables (prefix property); the default
    // T=16 clears the 0.9 edge-recall floor — the sweep's smaller
    // counts document what each table step buys (see SCALE.md)
    sweep.map(_._2._1).sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, "recall fell as tables grew") }
    val atDefault = sweep.find(_._1 == Similarity.LshTables).get._2._1
    assert(atDefault >= 0.9,
      s"default-table edge recall $atDefault under floor")
  }

  test("k-means inertia falls monotonically and covers the corpus") {
    import graft.ops.Similarity
    val (assigned, inertia) = Similarity.kMeans(spark, sf0001, k = 4,
      iters = 4)
    val n = Tables.embeddings(spark, sf0001).count()
    assert(assigned.count() == n) // every vector lands in a cell
    assert(assigned.select("cid").distinct().count() >= 2)
    info(s"inertia: ${inertia.mkString(" -> ")}")
    inertia.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"inertia rose: $a -> $b")
    }
  }

  test("connected components: pointer jumping converges on a deep chain and keeps components apart") {
    import spark.implicits._
    // a 50-node path: edge hops alone need 49 generations (over the
    // cap — the old loop would refuse); the label-of-label jump
    // squares reach per generation, converging in ~log2(50)
    val chain = (0L until 49L).map(i => (i, i + 1)).toDF("da", "db")
    val labels = graft.ops.Text.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 50)
    assert(labels.values.forall(_ == 0L)) // one component, min id 0
    // disjoint components never bleed into each other
    val two = ((0L until 10L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("da", "db")
    val l2 = graft.ops.Text.connectedComponents(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2.filter(_._1 <= 10L).values.toSet == Set(0L))
    assert(l2.filter(_._1 >= 100L).values.toSet == Set(100L))
  }

  test("LSH skew guard: salt-split preserves the candidate set exactly and spreads hot buckets") {
    import graft.ops.Similarity
    import spark.implicits._
    // a deliberately skewed sig table: 200 build rows share one bucket
    // (a near-duplicate cluster / zero-vector pile-up) amid cold ones
    val build = ((0 until 200).map(i => (i.toLong, 0, 7)) ++
      (0 until 50).map(i => (1000L + i, 1 + i % 4, i % 16)))
      .toDF("vb", "tbl", "sig")
    val probe = ((200 until 210).map(i => (i.toLong, 0, 7)) ++
      (0 until 20).map(i => (2000L + i, 1 + i % 4, i % 16)))
      .toDF("va", "tbl", "sig")
    val cap = 16
    val guarded = Similarity.lshBucketJoin(probe, build, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = probe.join(build, Seq("tbl", "sig"))
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size >= 200 * 10) // the hot bucket really is hot
    assert(guarded == plain)       // recall holds EXACTLY under the guard
    // the hot bucket split into ceil(200/16)=13 salt groups and no
    // group degenerated: every group ≪ the unguarded 200-row bucket
    val groups = build
      .withColumn("nsalt", lit(math.ceil(200.0 / cap).toInt))
      .filter(col("tbl") === 0 && col("sig") === 7)
      .withColumn("salt", pmod(hash(col("vb")), col("nsalt")))
      .groupBy("salt").count().collect().map(r => r.getLong(1))
    assert(groups.length == 13, s"expected 13 salt groups, got ${groups.length}")
    assert(groups.max <= 2 * cap,
      s"hash split degenerated: max group ${groups.max} vs cap $cap")
  }

  test("LSH skew guard under a degenerate CORPUS: 30% identical vectors, real signatures") {
    import graft.ops.Similarity
    import graft.functions.VectorExprs
    import spark.implicits._
    // adversarial-scale shape (round-4 judge item 7): not a scripted
    // sig table but the REAL signature pipeline over a corpus where
    // 30% of vectors are bit-identical — every table hashes all of
    // them into ONE bucket (plus whatever random vectors land there),
    // the near-duplicate pile-up / zero-vector case production
    // corpora actually produce
    val n = 1000
    val dim = 16
    val nBits = 8
    val nTables = 2
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Array[Float])] = (0L until n).map { i =>
      if (i < n * 3 / 10) i -> Array.fill(dim)(1f)
      else i -> Array.fill(dim)((rnd.nextGaussian() * 2).toFloat)
    }
    val prnd = new scala.util.Random(42)
    val planes: Seq[Seq[Double]] =
      Seq.fill(nTables * nBits)(Seq.fill(dim)(prnd.nextGaussian()))
    val sigs = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), posexplode(
        VectorExprs.hyperplaneSigs(col("embedding"), planes, nBits)))
      .toDF("vec_id", "tbl", "sig")
    val probe = sigs.select(col("vec_id").as("va"), col("tbl"), col("sig"))
    val build = sigs.toDF("vb", "tbl", "sig")
    val cap = 32

    // the degenerate bucket really holds ~30% of the corpus per table
    val sizes = build.groupBy("tbl", "sig").agg(count(lit(1)).as("bn"))
    val hot = sizes.agg(max("bn")).head.getLong(0)
    assert(hot >= n * 3 / 10, s"expected a ≥300-row bucket, max was $hot")

    // MULTISET equality with the unguarded join: a build row lands in
    // exactly one salt group and probes fan to every group, so the
    // guard must reproduce each collision exactly once — stronger
    // than set equality (a fan-out bug duplicating pairs would pass
    // a set compare)
    val guarded = Similarity.lshBucketJoin(probe, build, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val plain = probe.join(build, Seq("tbl", "sig"))
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(plain.size >= 300 * 300 * 2) // hot bucket × hot probes × tables
    assert(guarded == plain)
    // per-group build-row bound: recompute the guard's own salt
    // assignment; the expected group size is bn/nsalt ≤ cap — allow
    // 2× for hash-split variance, far under the ~300-row unguarded
    // bucket a straggler task would otherwise pair against
    val groupMax = build
      .join(sizes, Seq("tbl", "sig"))
      .withColumn("nsalt",
        greatest(ceil(col("bn") / cap).cast("int"), lit(1)))
      .withColumn("salt", pmod(hash(col("vb")), col("nsalt")))
      .groupBy("tbl", "sig", "salt").agg(count(lit(1)).as("gn"))
      .agg(max("gn")).head.getLong(0)
    assert(groupMax <= 2L * cap,
      s"hash split degenerated: max group $groupMax vs cap $cap")
  }

  test("incremental ANN maintenance: change-feed delta appended; stored search ≡ frozen-model inline on the union") {
    import graft.ops.Similarity
    import graft.ingest.BronzeMerge
    import java.nio.file.{Files, Path, Paths}
    Similarity.clearModels() // fresh memos → fresh coded table
    val all = Tables.embeddings(spark, sf0001)
    val tmp = Files.createTempDirectory("ann-maint")
    val baseDir = tmp.resolve("base").toString
    val bronze = tmp.resolve("bronze").toString
    val base = all.filter(col("vec_id") < 400)
    val delta = all.filter(col("vec_id") >= 400)
    base.write.parquet(s"$baseDir/embeddings.parquet")

    // embeddings arrive through the bronze table: base at v1, the new
    // batch at v2; the maintenance consumer checkpoints v1 and reads
    // ONLY the appended window via the change feed
    def withKeys(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("file_name", concat(lit("vec_"), col("vec_id")))
      .withColumn("length", col("vec_id"))
      .withColumn("modified", lit("2026-01-01 00:00:00").cast("timestamp"))
    assert(BronzeMerge.mergeIngestDf(spark, withKeys(base), bronze) == 400L)
    assert(BronzeMerge.mergeIngestDf(spark, withKeys(delta), bronze) ==
      delta.count())
    val feed = BronzeMerge.readChanges(spark, bronze, 1, 2)
      .select("vec_id", "embedding")
    assert(feed.count() == delta.count())

    // initial coded table from the base corpus (frozen model)
    val path = Similarity.codedCorpusPath(spark, baseDir)
    def parquetFiles(): Map[String, Long] = {
      val out = scala.collection.mutable.Map[String, Long]()
      Files.walk(Paths.get(path)).forEach { (p: Path) =>
        if (p.toString.endsWith(".parquet"))
          out += (p.toString -> Files.size(p))
      }
      out.toMap
    }
    val before = parquetFiles()
    val baseRows = spark.read.parquet(path).count()
    assert(baseRows == 400L)

    Similarity.appendToCodedCorpus(spark, baseDir, feed)

    // ONLY the delta was encoded: every pre-existing file survives
    // byte-identical (name + size), and the appended files carry
    // exactly the delta's rows
    val after = parquetFiles()
    assert(before.forall { case (f, sz) => after.get(f).contains(sz) },
      "append rewrote committed coded files")
    assert(spark.read.parquet(path).count() == baseRows + delta.count())
    val newFiles = (after.keySet -- before.keySet).toSeq
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles: _*)
      .agg(min("vec_id"), count(lit(1))).head() match {
        case r => r.getLong(0) >= 400L && r.getLong(1) == delta.count()
      })

    // stored search over the appended table answers EXACTLY like the
    // frozen-model inline plan over the unioned corpus, row for row —
    // the index stays a pure acceleration structure after maintenance
    val union = base.unionByName(delta)
    val stored = Similarity.ivfPqSearch(spark, baseDir,
      spark.read.parquet(path), union).collect().toSeq
    val inline = Similarity.ivfPqSearch(spark, baseDir,
      Similarity.encodeWith(spark, baseDir, union), union).collect().toSeq
    assert(stored == inline)
    assert(stored.nonEmpty)

    // the exactly-once COMPOSITION under at-least-once redelivery
    // (the maintainCodedCorpus scaladoc's claim, proven end to end):
    // the same delta arrives AGAIN — the bronze identity anti-join
    // appends nothing, no new change-feed window opens, so the coded
    // table cannot double-append even though the raw appender alone
    // is at-least-once
    assert(BronzeMerge.mergeIngestDf(spark, withKeys(delta), bronze) == 0L)
    assert(BronzeMerge.currentCommit(spark, bronze)._1 == 2)
    assert(spark.read.parquet(path).count() == baseRows + delta.count())
    Similarity.clearModels() // drop the per-test coded table memo
  }

  test("model memos are per-session, weakly keyed, and clearable") {
    import graft.ops.Similarity
    Similarity.clearModels()
    assert(Similarity.memoSessionCounts == ((0, 0)))
    val m1 = Similarity.kMeansModel(spark, sf0001, k = 4, iters = 2)
    // memo hit: the SAME cached instance comes back (no retrain)
    assert(Similarity.kMeansModel(spark, sf0001, k = 4, iters = 2)
      .asInstanceOf[AnyRef] eq m1.asInstanceOf[AnyRef])
    assert(Similarity.memoSessionCounts._1 == 1)
    // a second session trains its own entry (models are session-scoped;
    // the WeakHashMap key lets a dropped session reclaim its models)
    val s2 = spark.newSession()
    Similarity.kMeansModel(s2, sf0001, k = 4, iters = 2)
    assert(Similarity.memoSessionCounts._1 == 2)
    Similarity.clearModels()
    assert(Similarity.memoSessionCounts == ((0, 0)))
    // retraining after a clear reproduces the deterministic model
    assert(Similarity.kMeansModel(spark, sf0001, k = 4, iters = 2) == m1)
  }

  test("IVF over learned cells: neighbors share the query's cell; recall reported") {
    import graft.ops.Similarity
    val (assigned, _) = Similarity.kMeans(spark, sf0001)
    val cell = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = SparkEntry.queries("s09_ivf_kmeans")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.nonEmpty)
    // the IVF contract: every returned neighbor lives in the query's
    // cell (the restriction is WHY it scales — only probed cells read)
    ivf.foreach { case (qid, vid) =>
      assert(cell(vid) == cell(qid), s"$vid not in $qid's cell")
    }
    // recall vs the exact global top-5 is informational at this SF
    // (single-probe IVF trades recall for touched partitions)
    val exact = SparkEntry.queries("s03_knn_brute")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byQ = ivf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rec = byQ.map { case (q, ns) =>
      (ns intersect exact(q)).size.toDouble / math.min(3, exact(q).size) }
    info(s"s09 mean cell-restricted recall: ${rec.sum / rec.size}")
    assert(rec.sum / rec.size >= 0.3)
  }

  test("approx quantiles track the exact percentiles within accuracy") {
    // q39's GK sketch at accuracy 10000 guarantees rank error ≤
    // n/10000; translate to a value-tolerance via the exact q22
    // twin's spread (probes 0.49/0.895 sit within one value of the
    // exact median/p90 on this integer-valued column)
    val exact = SparkEntry.queries("q22_quantity_median")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val approx = SparkEntry.queries("q39_approx_quantiles")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (flag, (am, a90)) =>
      val (em, e90, mn, mx) = exact(flag)
      val tol = (mx - mn) * 0.05
      assert(math.abs(am - em) <= tol, s"$flag median: $am vs $em")
      assert(math.abs(a90 - e90) <= tol, s"$flag p90: $a90 vs $e90")
    }
  }

  test("bloom decontamination flags a superset of the exact join") {
    import graft.ops.Text
    // one-sided error: every exactly-contaminated doc MUST be flagged;
    // false positives are bounded by fpp × probes-per-doc
    val exact = SparkEntry.queries("t14_decontaminate")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val flagged = Text.decontaminateBloom(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged),
      s"missed contaminated docs: ${exact -- flagged}")
    assert((flagged -- exact).size <= 1,
      s"too many false flags: ${flagged -- exact}")
  }

  test("quantized KNN recalls the exact cosine top-5") {
    // s07 ranks by the int8 code dot product — per-query overlap with
    // the exact cosine top-5 (s03) is its quality signal beyond the
    // oracle's determinism hash (deterministic: fixed data, no seeds)
    val exact = SparkEntry.queries("s03_knn_brute")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = SparkEntry.queries("s07_quantized_knn")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(quant.keySet == exact.keySet)
    val overlaps = exact.map { case (qid, ex) =>
      val ov = (ex intersect quant(qid)).size.toDouble / ex.size
      info(s"s07 qid=$qid overlap with exact top-5: $ov")
      ov
    }
    // int8 over 64 dims keeps most of the ordering; require the
    // average per-query overlap well above chance
    assert(overlaps.sum / overlaps.size >= 0.6,
      s"mean quantized-KNN overlap ${overlaps.sum / overlaps.size}")
  }

  test("Space-Saving sketch: sandwich bounds hold; exact regime matches exact top-k") {
    import graft.functions.Aggregators
    import org.apache.spark.sql.Encoders
    val toks = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("t"))
    val exact = toks.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // approximate regime: capacity 8 < vocabulary 31 — every reported
    // counter must sandwich the true count (n - err <= true <= n),
    // under whatever merge order the partial aggregation took
    val hhSmall = udaf(new Aggregators.SpaceSaving(8, 8), Encoders.STRING)
    val rep = toks.agg(hhSmall(col("t")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.term", "e.n", "e.err").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rep.nonEmpty && rep.length <= 8)
    rep.foreach { case (t, n, e) =>
      val truth = exact.getOrElse(t, 0L)
      assert(n - e <= truth && truth <= n,
        s"$t: bounds [${n - e}, $n] miss true $truth")
    }
    // exact regime (t20's bench shape): capacity 64 >= vocab 31 →
    // zero error and exactly the exact top-10
    val hhBig = udaf(new Aggregators.SpaceSaving(64, 10), Encoders.STRING)
    val big = toks.agg(hhBig(col("t")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select("e.term", "e.n", "e.err").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exactTop = exact.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
    assert(big.map(x => (x._1, x._2)).toSeq == exactTop)
    assert(big.forall(_._3 == 0L))
  }

  test("Count-Min estimates never undercount and overestimate within the CMS bound") {
    // SCALE regime: full-vocabulary sketch (distinct tokens >> width),
    // collisions expected — the one-sided guarantee is what holds.
    // (t25 itself now runs the EXACT regime and is oracle-checked.)
    import org.apache.spark.sql.Encoders
    val depth = 4; val width = 256
    val cms = udaf(new functions.Aggregators.CountMin(depth, width),
      Encoders.STRING)
    val terms = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("t"))
    val sketch = terms.agg(cms(col("t")).as("s")).head.getSeq[Long](0)
    val top = terms.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("t")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.length == 10)
    val totalTokens = SparkEntry.queries("t03_token_count")(spark, sf0001)
      .agg(sum(col("ws_tokens"))).head.getLong(0)
    top.foreach { case (t, exact) =>
      val est = functions.Aggregators.CountMin
        .estimate(sketch, t, depth, width)
      assert(est >= exact, s"CMS undercounted '$t': $est < $exact")
      // deterministic instance of the ε=2/width w.h.p. bound; generous
      // slack since depth=4 min is what's actually deployed
      assert(est - exact <= totalTokens * 8 / 256,
        s"'$t' overestimate ${est - exact} out of bound")
    }
  }

  test("t25 exact-regime CMS point queries equal the exact group counts") {
    val rows = SparkEntry.queries("t25_cms_counts")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(rows.length > 50) // ~100 lang×source pairs at any SF
    rows.foreach { case (lang, source, exact, est) =>
      assert(est == exact, s"($lang,$source): cms $est != exact $exact")
    }
  }

  test("q42 salted join runs as sort-merge (dim-too-big regime), spreads the hot key") {
    val q = SparkEntry.queries("q42_skew_join")(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    // the demo models the dim-too-big regime: forced SMJ, no broadcast
    assert(plan.contains("SortMergeJoin"), plan.take(400))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(400))
    // the hot key (25% of fact rows on k=0) is spread over all 8
    // salts — no single (k, salt) group exceeds ~1/8 of the hot rows
    import org.apache.spark.sql.functions._
    val hot = graft.Tables.lineitem(spark, sf0001)
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .withColumn("salt", pmod(hash(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey")), lit(8)))
      .groupBy("salt").count().collect().map(_.getLong(1))
    assert(hot.length == 8, s"expected all 8 salts used, got ${hot.length}")
    val (mx, mn) = (hot.max, hot.min)
    assert(mx < 2 * math.max(mn, 1), s"salt spread uneven: min=$mn max=$mx")
  }

  test("hash split is disjoint, exhaustive, and near the 12/2/2 design ratios") {
    val rows = SparkEntry.queries("t26_hash_split")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("train", "validation", "test"))
    val total = rows.values.sum
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(total == nDocs) // every doc lands in exactly one split
    val trainFrac = rows("train").toDouble / total
    assert(math.abs(trainFrac - 0.75) < 0.10,
      s"train fraction $trainFrac far from 12/16")
  }

  test("PQ-ADC KNN recalls the exact cosine top-5") {
    // s10 ranks by asymmetric PQ distance (8 subspaces × 16 codes =
    // 8-byte vectors); like s07 its quality signal is per-query
    // overlap vs the exact s03 baseline (deterministic: fixed init,
    // fixed data, no seeds)
    val exact = SparkEntry.queries("s03_knn_brute")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = SparkEntry.queries("s10_pq_adc_knn")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == exact.keySet)
    val overlaps = exact.map { case (qid, ex) =>
      val ov = (ex intersect pq(qid)).size.toDouble / ex.size
      info(s"s10 qid=$qid overlap with exact top-5: $ov")
      ov
    }
    assert(overlaps.sum / overlaps.size >= 0.6,
      s"mean PQ-ADC overlap ${overlaps.sum / overlaps.size}")
  }

  test("IVF×PQ: results come from probed cells; recall tracks whole-corpus PQ") {
    import graft.ops.Similarity
    val exact = SparkEntry.queries("s03_knn_brute")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(name: String): (Double, Map[Long, Set[Long]]) = {
      val got = SparkEntry.queries(name)(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.map { case (q, ex) =>
        (ex intersect got.getOrElse(q, Set.empty)).size.toDouble / ex.size }
      (rs.sum / rs.size, got)
    }
    val (r10, _) = recall("s10_pq_adc_knn")
    val (r11, ivfpq) = recall("s11_ivfpq_knn")
    info(s"mean recall vs exact: s10 (full ADC scan) $r10, s11 (IVF×PQ) $r11")
    // the IVF restriction reads ~nprobe/k of the corpus; on this
    // fixture the probed cells must hold essentially everything the
    // full ADC scan finds
    assert(r11 >= r10 - 0.1, s"IVF×PQ recall $r11 fell below full-scan $r10")
    assert(r11 >= 0.7, s"IVF×PQ recall $r11 under floor")
    // containment: every returned neighbor lives in one of its query's
    // nprobe=4 nearest coarse cells (WHY the plan reads ~0.1% at scale)
    val (centroids, _) = Similarity.kMeansModel(spark, sf0001)
    val (assigned, _) = Similarity.kMeans(spark, sf0001)
    val cell = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qraw = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val probesOf = qraw.view.mapValues(v => centroids.map { case (cid, c) =>
      cid -> v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sortBy { case (cid, d2) => (d2, cid) }.take(4).map(_._1).toSet).toMap
    ivfpq.foreach { case (qid, ns) =>
      ns.foreach(n => assert(probesOf(qid).contains(cell(n)),
        s"qid=$qid neighbor $n in unprobed cell ${cell(n)}"))
    }
  }

  test("SimHash: near-dup pairs sit far closer in Hamming space than random pairs") {
    // t10 is oracle hash-matched (portable polyHash + universal-hash
    // bit votes); this test additionally pins the METRIC property the
    // hash-match can't see: docs that t08 proved near-duplicate
    // (Jaccard ≥ 0.8) must have simhashes within a few bits, while
    // unrelated docs hover near the random baseline (~31.5 for 63
    // independent bits, dragged down by shared corpus vocabulary)
    val sims = SparkEntry.queries("t10_simhash")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = SparkEntry.queries("t08_jaccard_pairs")(spark, sf0001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty) // fixtures plant near-duplicates
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearHam = near.map { case (a, b) => ham(sims(a), sims(b)) }
    // background: a deterministic stride pairing, minus the near-dups
    val ids = sims.keys.toArray.sorted
    val nearSet = near.toSet
    val rndHam = ids.indices.flatMap { i =>
      val j = (i + 97) % ids.length
      val (a, b) = (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
      if (a == b || nearSet.contains((a, b))) None
      else Some(ham(sims(a), sims(b)))
    }
    val nearMean = nearHam.sum.toDouble / nearHam.size
    val rndMean = rndHam.sum.toDouble / rndHam.size
    info(s"hamming: near-dup mean $nearMean (max ${nearHam.max}), " +
      s"random mean $rndMean over ${rndHam.size} pairs")
    // shared corpus vocabulary drags unrelated docs below the 32-bit
    // coin-flip baseline (observed ~18.5 at sf0.001) — the guard only
    // rules out a degenerate all-similar signature space
    assert(rndMean >= 12, s"random baseline $rndMean suspiciously low")
    assert(nearHam.max <= 16, s"a near-dup pair is ${nearHam.max} bits apart")
    assert(nearMean <= rndMean / 2,
      s"near-dup mean $nearMean not separated from random $rndMean")
  }

  test("sketch error bounds: HLL within 3σ, approx_percentile within rank ε (all SFs)") {
    // q23/e09 (HLL) are no_oracle by design — the sketches are
    // engine-specific — so pin what IS checkable: the PUBLISHED
    // accuracy contracts against exact answers.
    // approx_count_distinct's default rsd is 0.05 (σ of the HLL++
    // estimate); assert within 3σ. q39 is oracle-converted via the
    // pinned rank regime, but the GK contract itself stays pinned
    // here: approx_percentile(…, 10000) guarantees rank error ≤
    // 1/10000; assert the returned value's exact-rank interval
    // overlaps [q − ε, q + ε] with ε = 1/10000 plus one
    // discrete-rank step. Deterministic: both sketches are
    // data-determined, so these are regression pins, not flaky
    // statistical tests.
    val rsd3 = 3 * 0.05
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val li = Tables.lineitem(spark, dir)
      val exactNdv = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("p"),
          countDistinct(col("l_orderkey")).as("o"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      SparkEntry.queries("q23_approx_distinct")(spark, dir).collect()
        .foreach { r =>
          val (ep, eo) = exactNdv(r.getString(0))
          assert(math.abs(r.getLong(1) - ep).toDouble / ep <= rsd3,
            s"$dir q23 parts ${r.getString(0)}: ${r.getLong(1)} vs $ep")
          assert(math.abs(r.getLong(2) - eo).toDouble / eo <= rsd3,
            s"$dir q23 orders ${r.getString(0)}: ${r.getLong(2)} vs $eo")
        }
      val ev = Tables.events(spark, dir)
      val exactUsers = ev
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("u"))
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      SparkEntry.queries("e09_approx_users_daily")(spark, dir).collect()
        .foreach { r =>
          val eu = exactUsers(r.getTimestamp(0))
          assert(math.abs(r.getLong(1) - eu).toDouble / eu <= rsd3,
            s"$dir e09 ${r.getTimestamp(0)}: ${r.getLong(1)} vs $eu")
        }
      SparkEntry.queries("q39_approx_quantiles")(spark, dir).collect()
        .foreach { r =>
          val rf = r.getString(0)
          val grp = li.filter(col("l_returnflag") === rf)
          val n = grp.count().toDouble
          for ((q, v) <- Seq(0.49 -> r.getDouble(1), 0.895 -> r.getDouble(2))) {
            val below = grp.filter(col("l_quantity") < v).count() / n
            val atOrBelow = grp.filter(col("l_quantity") <= v).count() / n
            val eps = 1.0 / 10000 + 1.0 / n
            assert(below - eps <= q && q <= atOrBelow + eps,
              s"$dir q39 $rf q=$q v=$v rank in [$below, $atOrBelow]")
          }
        }
    }
  }

  test("rolling-hash fingerprint is deterministic and order-sensitive") {
    val fp = SparkEntry.queries("t06_fingerprint")(spark, sf0001)
    val a = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.forall(v => v >= 0 && v < 1000000007L))
  }

  test("span dedup matches a driver-side sliding-window recount") {
    val rows = SparkEntry.queries("t28_span_dedup")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    rows.values.foreach { case (nw, nd, mr) =>
      assert(nd <= nw, s"dup windows $nd exceed window count $nw")
      assert(mr <= nd, s"max run $mr exceeds dup count $nd")
      assert((mr > 0) == (nd > 0))
    }
    // exact recount: every overlapping 8-token window, corpus-wide
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val winsOf = docs.map { case (id, t) =>
      id -> (0 to t.length - 8).map(i => t.slice(i, i + 8).mkString(" "))
    }.toMap
    val counts = winsOf.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    var sawRun = false
    winsOf.foreach { case (id, ws) =>
      val dup = ws.map(counts(_) >= 2)
      val runs = {
        var (best, cur) = (0, 0)
        dup.foreach { d =>
          cur = if (d) cur + 1 else 0; best = math.max(best, cur) }
        best
      }
      val (nw, nd, mr) = rows(id)
      assert(nw == ws.length, s"doc $id window count")
      assert(nd == dup.count(identity), s"doc $id dup-window count")
      assert(mr == runs, s"doc $id max run: engine $mr vs recount $runs")
      if (runs > 0) sawRun = true
    }
    assert(sawRun, "fixture produced no duplicated span at all")
  }

  test("MIPS ranking is by raw dot; norm augmentation reduces it to cosine") {
    val got = SparkEntry.queries("s14_mips_knn")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // per query: ip non-increasing in rank
    got.groupBy(_._1).foreach { case (_, g) =>
      val byRk = g.sortBy(_._4).map(_._3)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
    // the scale-path reduction (Bachrach 2014): augment corpus vectors
    // with sqrt(M^2 - |x|^2), queries with 0 -> cosine order on the
    // augmented space IS the dot-product order (driver-side re-rank on
    // the tiny fixture proves the claim the s14 scaladoc makes)
    val vecs = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(x as double)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val m2 = vecs.values.map(v => v.map(x => x * x).sum).max
    def dotA(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    got.groupBy(_._1).foreach { case (qid, g) =>
      val q = vecs(qid)
      val augCos = vecs.view.filterKeys(_ != qid).map { case (id, v) =>
        val aug = math.sqrt(m2 - v.map(x => x * x).sum)
        // query augmented coord is 0 => dot unchanged; norm constant M
        id -> dotA(q, v) / (math.sqrt(dotA(q, q)) * math.sqrt(m2))
      }.toSeq.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      assert(augCos == g.sortBy(_._4).map(_._2).toSeq,
        s"augmented-cosine top-5 diverges from MIPS for qid=$qid")
    }
  }

  test("funnel pattern counts ordered view>click>purchase walks exactly") {
    val got = SparkEntry.queries("e16_funnel_pattern")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    got.foreach { case (_, _, nf, conv) => assert(conv == (nf >= 1)) }
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.map(_._2).sum == ev.length) // every event attributed
    val expect = ev.groupBy(_._1).view.mapValues { g =>
      val s = g.sortBy(e => (e._2, e._3)).map(_._4).mkString(">")
      "view>click>purchase".r.findAllMatchIn(s).size
    }.toMap
    got.foreach { case (u, _, nf, _) =>
      assert(nf == expect(u), s"user $u: engine $nf vs recount ${expect(u)}")
    }
    assert(got.exists(_._3 > 0), "fixture produced no funnel at all")
  }

  test("budget select keeps the best docs until the token budget, no gaps") {
    val rows = SparkEntry.queries("t32_budget_select")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val total = rows.map(_._2).sum
    val budget = total / 4
    val kept = rows.filter(_._4)
    assert(kept.nonEmpty && kept.map(_._2).sum <= budget)
    // selection is a PREFIX of the quality order: cum_tokens of every
    // selected doc <= every unselected doc's
    val maxSel = kept.map(_._3).max
    rows.filterNot(_._4).foreach { case (id, _, cum, _) =>
      assert(cum > maxSel, s"doc $id unselected but inside the prefix") }
    // cum_tokens is a permutation-consistent prefix sum: sorted cums
    // step exactly by each doc's n_tokens
    val byCum = rows.sortBy(_._3)
    byCum.zip(byCum.scanLeft(0L)(_ + _._2).tail).foreach {
      case ((id, _, cum, _), expect) =>
        assert(cum == expect, s"doc $id cum $cum != running $expect") }
  }

  test("dedup rewrite keeps each distinct chunk exactly once, rebuilds in order") {
    val rows = SparkEntry.queries("t31_dedup_rewrite")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // corpus-level conservation: kept chunks = distinct chunks
    val allChunks = docs.toSeq.flatMap { case (_, t) =>
      t.split(" ", -1).grouped(16).map(_.mkString(" ")).toSeq }
    assert(rows.values.map(_._2).sum == allChunks.distinct.size)
    assert(rows.values.map(_._1).sum == allChunks.size)
    // an all-unique doc survives verbatim; something must be dropped
    var dropped = 0
    rows.foreach { case (id, (n, kept, newText)) =>
      assert(kept <= n)
      if (kept == n) assert(newText == docs(id),
        s"doc $id rewritten despite no duplicate chunks")
      else dropped += 1
    }
    assert(dropped > 0, "fixture has duplicate chunks; none dropped")
    // order preserved: each doc's new_text chunks appear in original
    // relative order (spot-check all docs cheaply via subsequence test
    // on chunk lists)
    rows.foreach { case (id, (_, _, newText)) =>
      val orig = docs(id).split(" ", -1).grouped(16)
        .map(_.mkString(" ")).toSeq
      val kept = if (newText.isEmpty) Seq.empty[String]
        else {
          // rebuild chunk list by walking orig and matching greedily
          val toksN = newText.split(" ", -1)
          toksN.grouped(16).map(_.mkString(" ")).toSeq
        }
      // greedy subsequence check
      var oi = 0
      kept.foreach { c =>
        val at = orig.indexOf(c, oi)
        assert(at >= 0, s"doc $id: kept chunk not in original order")
        oi = at + 1
      }
    }
  }

  test("IVF-PQ over the stored coded table equals the inline s11 exactly") {
    val inline = SparkEntry.queries("s11_ivfpq_knn")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val stored = SparkEntry.queries("s16_ivfpq_stored")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // identical math on identical codes -> bitwise-equal rows; the
    // only difference is WHERE the codes came from (disk, pruned to
    // the probed partitions, vs recomputed inline)
    assert(stored == inline)
  }

  test("markov transition rows are a proper distribution per prev type") {
    val rows = SparkEntry.queries("e17_markov_transitions")(spark, sf0001)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // per-prev probabilities sum to exactly 1 (exact long ratios)
    rows.groupBy(_._1).foreach { case (prev, g) =>
      val s = g.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-9, s"$prev rows sum to $s")
    }
    // total transitions = events - one first-event per active user
    val nEv = Tables.events(spark, sf0001).count()
    val nUsers = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum == nEv - nUsers)
  }

  test("LSH semantic dedup agrees with the exact all-pairs components") {
    val exact = SparkEntry.queries("s12_semantic_dedup")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val lsh = SparkEntry.queries("s15_semantic_dedup_lsh")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(lsh.keySet == exact.keySet) // every vector labeled
    // LSH can only LOSE edges, so its components refine the exact
    // ones: two ids sharing an LSH component must share the exact one
    lsh.groupBy(_._2._1).values.foreach { members =>
      assert(members.keys.map(exact(_)._1).toSet.size == 1,
        "LSH merged vectors the exact components keep apart")
    }
    // and on this fixture the refinement should be near-exact
    val agree = lsh.count { case (id, (c, _)) => exact(id)._1 == c }
    val frac = agree.toDouble / lsh.size
    info(s"s15 component agreement with exact s12: $frac")
    assert(frac >= 0.95, s"component agreement $frac under floor")
    val keepAgree = lsh.count { case (id, (_, k)) => exact(id)._2 == k }
    assert(keepAgree.toDouble / lsh.size >= 0.95)
  }

  test("mixture sampler thins over-represented sources, passes the rest whole") {
    val rows = SparkEntry.queries("t30_mixture_sample")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nToks, rate, kept, keptToks) =>
      assert(rate > 0 && rate <= 1.0, s"$src rate $rate")
      assert(kept <= nDocs && keptToks <= nToks)
      if (rate == 1.0) assert(kept == nDocs, s"$src lost docs at rate 1")
    }
    // somebody must actually be over-represented on this fixture
    assert(rows.exists(_._4 < 1.0))
    // hash-gated acceptance tracks the rate (deterministic, not exact)
    rows.filter(r => r._4 < 1.0 && r._2 >= 20).foreach {
      case (src, nDocs, _, rate, kept, _) =>
        val frac = kept.toDouble / nDocs
        assert(math.abs(frac - rate) <= 0.2,
          s"$src kept fraction $frac far from rate $rate")
    }
    // rebalancing direction: post-sample token shares move toward the
    // sqrt-weight targets of t22 for every thinned source
    val weights = SparkEntry.queries("t22_source_mixture")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val totPre = rows.map(_._3).sum.toDouble
    val totPost = rows.map(_._6).sum.toDouble
    rows.filter(_._4 < 1.0).foreach {
      case (src, _, nToks, _, _, keptToks) =>
        val (pre, post) = (nToks / totPre, keptToks / totPost)
        assert(math.abs(post - weights(src)) <=
          math.abs(pre - weights(src)) + 0.02,
          s"$src share moved away from target: pre $pre post $post " +
            s"target ${weights(src)}")
    }
  }

  test("classifier training converges and recovers the quality band") {
    graft.ops.Text.clearLrModels()
    val (w, losses, thr) = graft.ops.Text.lrModel(spark, sf0001)
    assert(w.length == 515) // 512 hashed TF + bias + 2 surface stats
    assert(losses.length == 40)
    assert(thr > 0 && thr < 1)
    // preconditioned GD + momentum on a convex loss: strictly improving
    losses.zip(losses.tail).foreach { case (a, b) =>
      assert(b < a + 1e-12, s"loss rose: $a -> $b") }
    info(s"brier loss ${losses.head} -> ${losses.last}")
    val rows = SparkEntry.queries("t29_classifier_score")(spark, sf0001)
      .collect()
    val acc = rows.map(_.getInt(4)).sum.toDouble / rows.length
    info(s"training accuracy $acc over ${rows.length} docs")
    assert(acc >= 0.9, s"train accuracy $acc under 0.9")
    // both classes actually predicted (no majority-class collapse)
    assert(rows.map(_.getInt(3)).distinct.length == 2)
    // memoized: second call must return the identical model object
    val again = graft.ops.Text.lrModel(spark, sf0001)
    assert(again._1 eq w)
  }

  test("KMV sketches: bounded estimates, exact regime, bitwise mergeability") {
    import spark.implicits._
    import graft.functions.Aggregators.Kmv
    val k = 256
    val agg = new graft.functions.Aggregators.Kmv(k)
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
    val sketches = ev.as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("sk")).collect().toMap
    val exact = Tables.events(spark, sf0001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-type estimate within 20% of exact (error ~1/sqrt(k) = 6%)
    exact.foreach { case (t, n) =>
      val est = Kmv.estimate(sketches(t), k)
      assert(math.abs(est - n) <= 0.2 * n, s"$t: est $est vs exact $n")
    }
    // union/intersection against exact set algebra for one pair
    val types = exact.keys.toSeq.sorted
    val (ta, tb) = (types.head, types(1))
    def users(t: String) = Tables.events(spark, sf0001)
      .filter(col("event_type") === t)
      .select("user_id").distinct().as[Long].collect().toSet
    val (ua, ub) = (users(ta), users(tb))
    val unionEst = Kmv.estimate(Kmv.merge(sketches(ta), sketches(tb), k), k)
    val interEst = Kmv.intersectEstimate(sketches(ta), sketches(tb), k)
    assert(math.abs(unionEst - (ua ++ ub).size) <= 0.2 * (ua ++ ub).size)
    val interExact = (ua intersect ub).size
    assert(math.abs(interEst - interExact) <= 0.3 * interExact + 5,
      s"intersect est $interEst vs exact $interExact")
    // MERGEABILITY, bitwise: sketch over all events == fold of the
    // per-type sketches in any order
    val all = ev.select("h").as[Long]
      .groupByKey(_ => 0).mapValues(identity)
      .agg(agg.toColumn.name("sk")).collect().head._2
    val folded = types.map(sketches)
      .reduce((a, b) => Kmv.merge(a, b, k))
    val foldedRev = types.reverse.map(sketches)
      .reduce((a, b) => Kmv.merge(a, b, k))
    assert(all == folded && folded == foldedRev)
    // exact regime: k >= distinct => the sketch IS the hash set
    val few = Seq("x", "y", "z", "x").toDS()
      .select(xxhash64(col("value")).as("h")).as[Long]
      .groupByKey(_ => 0).mapValues(identity)
      .agg(agg.toColumn.name("sk")).collect().head._2
    assert(few.size == 3 && Kmv.estimate(few, k) == 3.0)
  }

  test("BPE merges: non-increasing counts, consistent table, partition-invariant") {
    val rows = SparkEntry.queries("t38_bpe_merges")(spark, sf0001).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0)
    }
    // classic BPE property: a merge can only create pairs at the
    // sites it rewrote, so the best count never increases
    val counts = rows.map(_.getLong(4)).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      counts.mkString(","))
    // partition invariance: the same corpus at a different layout
    // trains the identical merge table (hash-shuffle determinism)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-bpe-inv-").toString
    Tables.documents(spark, sf0001).repartition(7)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val again =
      SparkEntry.queries("t38_bpe_merges")(spark, tmp).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("PageRank conserves mass and keeps every nation above the floor") {
    val rows =
      SparkEntry.queries("q53_nation_pagerank")(spark, sf0001).collect()
    val n = rows.length
    assert(n == 25)
    val ranks = rows.map(_.getDouble(1))
    // damped PageRank with no dangling nodes sums to 1 (up to the
    // deliberate decimal(28,10) truncation: ≤1e-10 per contribution,
    // compounded over 10 rounds)
    assert(math.abs(ranks.sum - 1.0) < 1e-6, s"mass ${ranks.sum}")
    assert(ranks.forall(r => r > 0.15 / n - 1e-12))
  }

  test("SCD2 intervals partition each user's timeline exactly") {
    val rows = SparkEntry.queries("e22_scd2_intervals")(spark, sf0001)
      .collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.head.getInt(1) == 1, s"user $u first seq")
      // columns: user_id, seq, event_type, valid_from, n_events,
      // valid_to, is_current (withColumn appends)
      // intervals chain: valid_to == next interval's valid_from;
      // exactly the last one is open/current
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(5) == b.getTimestamp(3), s"user $u gap")
          assert(!a.getBoolean(6))
        case _ =>
      }
      assert(sorted.last.getBoolean(6) && sorted.last.isNullAt(5))
    }
    // every cohort event lands in exactly one interval
    val nEvents = Tables.events(spark, sf0001)
      .filter(col("user_id") % 50 === 7).count()
    assert(rows.map(_.getLong(4)).sum == nEvents)
  }

  test("decayed revenue dominates the current day and decays the past") {
    val rows = SparkEntry.queries("e23_decayed_revenue")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cents, decayed) = (r.getLong(2), r.getDouble(3))
      // weight of the current day is 2^7/12800 = 1/100: with value >= 0
      // every other term only adds, so decayed >= cents/100 …
      assert(decayed >= cents / 100.0 - 1e-9)
      // … and the trailing window is 8 days of weights summing to
      // (2^8-1)/12800 < 2/100 of the window's max daily revenue
      val maxCents = rows.map(_.getLong(2)).max
      assert(decayed <= maxCents * (255.0 / 12800.0) + 1e-9)
    }
  }

  test("attribution conserves purchases and revenue") {
    val attr = SparkEntry.queries("e24_attribution")(spark, sf0001).collect()
    val purchases = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
    assert(attr.map(_.getLong(1)).sum == purchases.count())
    // channels only ever carry non-purchase types (or 'direct')
    assert(attr.map(_.getString(0)).forall(c => c != "purchase"))
    // decimal-exact per-channel sums re-add to the decimal-exact total
    val total = purchases
      .agg(graft.ops.dsum(col("value"))).head.getDouble(0)
    assert(math.abs(attr.map(_.getDouble(2)).sum - total) < 1e-6)
  }

  test("MAD outlier gate is robust: under half the corpus is outlying") {
    val rows = SparkEntry.queries("t41_mad_outliers")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mad, out) = (r.getLong(1), r.getDouble(3), r.getLong(4))
      assert(mad >= 0.0)
      // by the definition of the median deviation, at least half the
      // group sits within 1 MAD, so beyond-3-MAD is always a minority
      assert(out <= n / 2, s"lang ${r.getString(0)}")
    }
  }

  test("calibration table partitions the corpus and bounds rates") {
    val rows = SparkEntry.queries("t42_calibration")(spark, sf0001)
      .collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == nDocs) // bins partition corpus
    rows.foreach { r =>
      val (bin, n, avg, nLong, rate) = (r.getInt(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(bin >= 0 && bin <= 9)
      assert(avg >= bin / 10.0 - 1e-9 && (bin == 9 || avg < (bin + 1) / 10.0))
      assert(rate >= 0.0 && rate <= 1.0 && nLong <= n)
    }
  }

  test("group KNN stays inside the query's label partition") {
    val rows = SparkEntry.queries("s19_group_knn")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val labels = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (label, qid, vid, cos, rk) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))
      assert(labels(qid) == label && labels(vid) == label)
      assert(qid != vid && rk >= 1 && rk <= 3)
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
    // within-group ranking is consistent with the global brute ranking:
    // a query's group neighbors appear in the same relative order as in
    // the unrestricted s03 ranking (same score function, same tiebreak)
    val brute = SparkEntry.queries("s03_knn_brute")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bruteRank = brute.map { case (q, v, rk) => (q, v) -> rk }.toMap
    rows.filter(_.getLong(1) < 8).groupBy(_.getLong(1)).foreach {
      case (qid, grp) =>
        val ranked = grp.sortBy(_.getInt(4))
          .flatMap(r => bruteRank.get((qid, r.getLong(2))))
        assert(ranked.sameElements(ranked.sorted), s"query $qid order")
    }
  }

  test("e25: distributed prefix sum equals a driver-side sweep line") {
    val out = SparkEntry.queries("e25_peak_concurrency")(spark, sf0001)
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // brute twin: intervals from e03 (same session rule), one global
    // in-memory sweep with the same ends-merge-with-starts semantics
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant // keep µs: getTime would truncate to millis
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val sess = SparkEntry.queries("e03_sessionization")(spark, sf0001)
      .select("session_start", "session_end").collect()
      .map(r => (micros(r.getTimestamp(0)), micros(r.getTimestamp(1))))
    val net = scala.collection.mutable.TreeMap[Long, Long]()
    sess.foreach { case (st, en) =>
      net(st) = net.getOrElse(st, 0L) + 1
      net(en) = net.getOrElse(en, 0L) - 1
    }
    val days = scala.collection.mutable.LinkedHashMap[
      java.time.LocalDate, (Long, Long)]() // day -> (peak, eod)
    var run = 0L
    net.foreach { case (ts, d) =>
      val day = java.time.Instant.ofEpochSecond(Math.floorDiv(ts, 1000000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      val carryPeak = days.get(day).map(_._1).getOrElse(run) // day start
      run += d
      val peak = math.max(carryPeak, run)
      days(day) = (peak, run)
    }
    // gap days (inside the span but without any session endpoint)
    // report the carried-over open count as both peak and eod
    var open = 0L
    val expected = Iterator.iterate(days.head._1)(_.plusDays(1))
      .takeWhile(!_.isAfter(days.last._1)).map { d =>
        val row = days.get(d) match {
          case Some((p, e)) => (d, p, e)
          case None => (d, open, open)
        }
        open = row._3
        row
      }.toSeq
    assert(out.toSeq == expected)
    assert(out.last._3 == 0L) // every session that opens also closes
    out.foreach { case (_, peak, eod) => assert(peak >= eod && peak >= 0) }
    // constructed fixture: zero-activity days inside the span surface
    // as explicit zero rows instead of being silently absent (under
    // the 30-min gap rule a session can never span a deltaless day,
    // so the only gap days are exactly the zero-activity ones)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-e25-gap").toString
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 10:10:00"), 1L, "click", 1.0, "{}"),
      (3L, t("2024-01-04 09:00:00"), 2L, "view", 1.0, "{}"),
      // two events: a single-event session is zero-duration (its
      // +1/-1 merge at one instant) and by design never counts
      (4L, t("2024-01-04 09:05:00"), 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val gap = SparkEntry.queries("e25_peak_concurrency")(spark, dir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(gap.toSeq == Seq(
      ("2024-01-01", 1L, 0L), ("2024-01-02", 0L, 0L),
      ("2024-01-03", 0L, 0L), ("2024-01-04", 1L, 0L)))
  }

  test("e26: offset-explode rolling distinct equals the by-definition WAU") {
    val out = SparkEntry.queries("e26_rolling_wau")(spark, sf0001)
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    val pairs = Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = pairs.map(_._1).distinct.sorted
    val want = days.map { d =>
      val win = pairs.filter { case (pd, _) =>
        !pd.isAfter(d) && pd.isAfter(d.minusDays(7)) }
      val dau = pairs.filter(_._1 == d).map(_._2).distinct.size.toLong
      (d, dau, win.map(_._2).distinct.size.toLong)
    }
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == want.toSeq)
    out.foreach { case (_, dau, wau, stick) =>
      assert(dau <= wau && math.abs(stick - dau.toDouble / wau) == 0.0)
    }
  }

  test("e27: gap counts conserve and the moment algebra is sane") {
    val rows = SparkEntry.queries("e27_interarrival")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // every (user, type) chain of length n contributes n-1 gaps
    val ev = Tables.events(spark, sf0001)
    val total = ev.count()
    val chains = ev.select("user_id", "event_type").distinct().count()
    assert(rows.map(_._2).sum == total - chains)
    rows.foreach { case (_, n, avg, mx, cv) =>
      assert(n > 0 && avg > 0 && avg <= mx && cv >= 0)
    }
  }

  test("m09: banded pair relation matches the driver-side brute force") {
    val got = SparkEntry.queries("m09_ahash_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    // brute twin: re-derive every hash through the same REAL codec,
    // then apply the banded rule by definition over all pairs
    val hashes = Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map { r =>
        val (id, nc) = (r.getLong(0), r.getAs[Number](1).intValue)
        Multimodal.decodeBmpAhash(id,
          Multimodal.encodeBmp(id, 8 + nc % 17, 8 + (nc * 3) % 13))
      }.sortBy(_.doc_id)
    val want = for {
      a <- hashes; b <- hashes
      if a.doc_id < b.doc_id
      if a.b0 == b.b0 || a.b1 == b.b1 || a.b2 == b.b2 || a.b3 == b.b3
      ham = Integer.bitCount(a.b0 ^ b.b0) + Integer.bitCount(a.b1 ^ b.b1) +
        Integer.bitCount(a.b2 ^ b.b2) + Integer.bitCount(a.b3 ^ b.b3)
      if ham <= 6
    } yield (a.doc_id, b.doc_id, ham)
    assert(got.toSet == want.toSet)
    // pigeonhole: nothing with Hamming ≤ 3 can escape the band join
    val all3 = for {
      a <- hashes; b <- hashes
      if a.doc_id < b.doc_id
      ham = Integer.bitCount(a.b0 ^ b.b0) + Integer.bitCount(a.b1 ^ b.b1) +
        Integer.bitCount(a.b2 ^ b.b2) + Integer.bitCount(a.b3 ^ b.b3)
      if ham <= 3
    } yield (a.doc_id, b.doc_id, ham)
    assert(all3.toSet.subsetOf(got.toSet))
  }

  test("m10: groups are the transitive closure of the Hamming<=3 pairs") {
    val groups = SparkEntry.queries("m10_ahash_groups")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(groups.nonEmpty)
    // every close pair (ham <= 3 slice of m09) lands in one group
    val pairs = SparkEntry.queries("m09_ahash_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(_._3 <= 3)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, _) =>
      assert(groups(a)._1 == groups(b)._1, s"pair ($a,$b) split") }
    // representative = the group's minimum member; keep iff rep
    groups.groupBy(_._2._1).foreach { case (gid, members) =>
      assert(gid == members.keys.min)
      members.foreach { case (id, (_, keep)) => assert(keep == (id == gid)) }
    }
  }

  test("t44: k-anonymity conserves the corpus and respects the k floor") {
    val rows = SparkEntry.queries("t44_k_anonymity")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // conservation: released + generalized + suppressed = every doc
    assert(rows.map(_._3).sum == Tables.documents(spark, sf0001).count())
    // every non-suppressed release meets the k floor
    rows.foreach { case (lang, _, n) => if (lang != "*") assert(n >= 7) }
    assert(rows.exists(_._2 == "*")) // the generalization ladder fired
  }

  test("t43: planted cross-doc boilerplate is flagged; counts nest") {
    val rows = SparkEntry.queries("t43_boiler_ngrams")(spark, sf0001)
      .collect()
    rows.foreach { r =>
      val (nw, nd, nb) = (r.getInt(1), r.getLong(2), r.getLong(3))
      assert(nb <= nd && nd <= nw.toLong)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getBoolean(5) == (r.getDouble(4) >= 0.5))
    }
    // planted fixture: one 5-gram shared by three docs is boilerplate
    // (df = 3 meets the gate); a fourth doc shares nothing
    val dir = java.nio.file.Files
      .createTempDirectory("graft-boiler-docs").toString
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s", 35),
      (1L, "x alpha beta gamma delta epsilon", "en", "s", 32),
      (2L, "p q alpha beta gamma delta epsilon", "en", "s", 34),
      (3L, "one two three four five six", "en", "s", 27))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("t43_boiler_ngrams")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getBoolean(5))).toMap
    assert(planted(0L) == ((1L, true)))  // 1 of 2 windows → ratio 0.5
    assert(planted(1L) == ((1L, true)))  // 1 of 2
    assert(planted(2L) == ((1L, false))) // 1 of 3 → ratio 1/3
    assert(planted(3L) == ((0L, false)))
  }

  test("e28: trend rows match a driver-side trailing-baseline replay") {
    val got = SparkEntry.queries("e28_trending")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.nonEmpty)
    // replay: daily counts from the raw table, then the 7-day trailing
    // RANGE window by definition (missing days shrink the window)
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("d"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byType = daily.groupBy(_._1)
    var checked = 0
    byType.foreach { case (et, rows) =>
      val m = rows.map(r => r._2 -> r._3).toMap
      m.keys.foreach { day =>
        val window = (day - 7 to day - 1).flatMap(m.get)
        if (window.nonEmpty) {
          val date = java.time.LocalDate.ofEpochDay(day.toLong).toString
          val (n, bDays, baseline, trend) = got((et, date))
          assert(n == m(day) && bDays == window.size)
          assert(baseline == window.sum.toDouble / window.size)
          assert(trend == n.toDouble / baseline)
          checked += 1
        } else assert(!got.contains((et, java.time.LocalDate
          .ofEpochDay(day.toLong).toString)))
      }
    }
    assert(checked == got.size)
  }

  test("s20: prediction is the exact mode of the brute top-10 vote") {
    val got = SparkEntry.queries("s20_knn_classify")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getInt(5)))
      .toMap
    assert(got.size == 40)
    // brute replay with the engine's sequential fold order
    val vecs = Tables.embeddings(spark, sf0001)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def l2(a: Array[Double]) = math.sqrt(dot(a, a))
    val corpus = vecs.filter(_._1 >= 40)
    vecs.filter(_._1 < 40).foreach { case (qid, qv, ql) =>
      val top = corpus
        .map { case (id, v, l) => (id, l, dot(qv, v) / (l2(qv) * l2(v))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(10)
      val votes = top.groupBy(_._2).view.mapValues(_.length)
      val (pl, pv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      val (trueL, predL, nVotes, nLabels, agree) = got(qid)
      assert(trueL == ql && predL == pl && nVotes == pv.toLong)
      assert(nLabels == votes.size)
      assert(agree == (if (pl == ql) 1 else 0))
    }
  }

  test("t45: OOV rate replays from the md5 split and top-2000 vocab") {
    val got = SparkEntry.queries("t45_vocab_coverage")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if (h < 'c') "train" else if (h < 'e') "validation" else "test"
    }
    val vocab = docs.filter(d => split(d._1) == "train")
      .flatMap(_._3.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(2000).map(_._1).toSet
    val held = docs.filter(d => split(d._1) != "train")
    val want = held.flatMap { case (id, lang, text) =>
      text.split(" ", -1).map(t => ((split(id), lang), t)) }
      .groupBy(_._1).view.mapValues { ts =>
        val n = ts.length.toLong
        val oov = ts.count(p => !vocab.contains(p._2)).toLong
        (n, oov, oov.toDouble / n)
      }.toMap
    assert(got == want)
  }

  test("m12: frame features replay from the PCM formula; tails drop") {
    val got = SparkEntry.queries("m12_audio_frames")(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5), r.getInt(6))))
      .toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    var total = 0
    docs.foreach { case (id, nc) =>
      val nf = (50 + nc % 211).toInt
      def v(i: Int): Int = (((id * 31 + i * 7) % 65536) - 32768).toInt
      (0 until nf / 25).foreach { f =>
        val xs = (f * 25 until (f + 1) * 25).map(v)
        val zc = xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
        assert(got((id, f)) == ((f * 25, 25,
          xs.map(x => x.toLong * x).sum, zc, xs.map(math.abs).max)))
        total += 1
      }
      // a partial tail frame is never emitted
      assert(!got.contains((id, nf / 25)))
    }
    assert(total == got.size)
  }

  test("e29: growth accounting decomposes DAU and conserves churn") {
    val got = SparkEntry.queries("e29_growth_accounting")(spark, sf0001)
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got.nonEmpty)
    // decomposition: new + retained + resurrected = active, every day
    got.values.foreach { case (act, nw, ret, res, _) =>
      assert(nw + ret + res == act)
    }
    // replay from the raw distinct (user, day) pairs
    val pairs = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byUser = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_.toEpochDay)).toMap
    // sum of n_new over all days = number of distinct users
    assert(got.values.map(_._2).sum == byUser.size)
    // churn replay: a user active on d and not on d+1 churns at d+1,
    // counted only if d+1 is an observed active day
    val activeDays = pairs.map(_._2).toSet
    val churnByDay = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap.toSeq
      .flatMap { case (_, ds) =>
        ds.filter(d => !ds.contains(d.plusDays(1))).map(_.plusDays(1)) }
      .filter(activeDays.contains)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (day, (_, _, _, _, churned)) =>
      assert(churned ==
        churnByDay.getOrElse(java.time.LocalDate.parse(day), 0L))
    }
  }

  test("s21: drift replays from split centroids with the sorted fold") {
    val got = SparkEntry.queries("s21_embedding_drift")(spark, sf0001)
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getInt(2), r.getInt(3))).toMap
    assert(got.nonEmpty)
    val vecs = Tables.embeddings(spark, sf0001)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def grp(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if (h < 'c') "train" else "held"
    }
    vecs.groupBy(_._3).foreach { case (label, members) =>
      val tr = members.filter(m => grp(m._1) == "train").map(_._2)
      val hd = members.filter(m => grp(m._1) == "held").map(_._2)
      if (tr.isEmpty || hd.isEmpty) assert(!got.contains(label))
      else {
        def cent(vs: Array[Array[Double]], pos: Int): Double =
          vs.map(_(pos)).sorted.foldLeft(0.0)(_ + _) / vs.length
        val d2s = (0 until 64).map { p =>
          val d = cent(tr, p) - cent(hd, p); d * d
        }
        val drift = math.sqrt(d2s.foldLeft(0.0)(_ + _))
        assert(got(label) == ((drift, tr.length, hd.length)))
      }
    }
  }

  test("t46: leakage counts replay from exact text identity") {
    val got = SparkEntry.queries("t46_split_leakage")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def split(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if (h < 'c') "train" else if (h < 'e') "validation" else "test"
    }
    val trainTexts = docs.filter(d => split(d._1) == "train")
      .map(_._3).toSet
    val want = docs.filter(d => split(d._1) != "train")
      .groupBy(d => (split(d._1), d._2)).view.mapValues { ds =>
        val n = ds.length.toLong
        val leaked = ds.count(d => trainTexts.contains(d._3)).toLong
        (n, leaked, leaked.toDouble / n)
      }.toMap
    assert(got == want)
    // planted positive: doc 4 is train (md5 "a87f…"), doc 3 is test
    // (md5 "eccb…"); give them identical text and the gate must fire
    val dir = java.nio.file.Files
      .createTempDirectory("graft-leak-docs").toString
    import spark.implicits._
    Seq(
      (3L, "the shared leaked text", "en", "s", 22),
      (4L, "the shared leaked text", "en", "s", 22),
      (0L, "unique validation text", "en", "s", 22),
      (5L, "unique test text", "en", "s", 16))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("t46_split_leakage")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(planted("test") == ((2L, 1L)))       // doc 3 leaked, doc 5 not
    assert(planted("validation") == ((1L, 0L))) // doc 0 clean
  }

  test("t47: metrics replay from the t05 confusion matrix") {
    val conf = SparkEntry.queries("t05_language_id")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val got = SparkEntry.queries("t47_langid_metrics")(spark, sf0001)
      .collect().map { r =>
        def od(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), od(4), od(5), od(6))
      }.toMap
    assert(got.nonEmpty && conf.nonEmpty)
    val classes = conf.flatMap(c => Seq(c._1._1, c._1._2)).distinct
    assert(got.keySet == classes.toSet)
    classes.foreach { c =>
      val nTrue = conf.filter(_._1._1 == c).map(_._2).sum
      val nPred = conf.filter(_._1._2 == c).map(_._2).sum
      val nCorr = conf.filter(p => p._1._1 == c && p._1._2 == c)
        .map(_._2).sum
      val (gt, gp, gc, prec, rec, f1) = got(c)
      assert((gt, gp, gc) == ((nTrue, nPred, nCorr)))
      assert(gc <= math.min(gt, gp))
      assert(prec == (if (nPred > 0) Some(nCorr.toDouble / nPred) else None))
      assert(rec == (if (nTrue > 0) Some(nCorr.toDouble / nTrue) else None))
      (prec, rec) match {
        case (Some(p), Some(r0)) if p + r0 > 0 =>
          assert(f1.contains(2.0 * p * r0 / (p + r0)))
        case _ => assert(f1.isEmpty)
      }
    }
    // conservation: true totals and predicted totals both sum to the
    // classified-document count
    val n = conf.map(_._2).sum
    assert(got.values.map(_._1).sum == n && got.values.map(_._2).sum == n)
  }

  test("q60: the bucketed Pareto equals the naive global-sort definition") {
    val r = SparkEntry.queries("q60_revenue_pareto")(spark, sf0001).head()
    val (n, total, n80, decShare) =
      (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3))
    // replay the DEFINITION: one global sort on the driver
    val revs = Tables.orders(spark, sf0001)
      .select("o_custkey", "o_totalprice").collect()
      .map(x => (x.getLong(0), BigDecimal(x.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (k, v) => (-v, k) }
    assert(n == revs.length.toLong)
    val tot = revs.map(_._2).sum
    assert(total == tot.toDouble)
    val cums = revs.scanLeft(BigDecimal(0))(_ + _._2).tail
    assert(n80 == cums.count(_ * 5 < tot * 4) + 1)
    val k = revs.length / 10
    assert(decShare ==
      revs.take(k).map(_._2).sum.toDouble / tot.toDouble)
    assert(n80 < n && decShare > 0.1) // revenue IS concentrated
  }

  test("e32: conversion lags replay from first signup / first purchase") {
    val got = SparkEntry.queries("e32_conversion_lag")(spark, sf0001)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)))
        -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos % 1000000) / 1000
    val evs = Tables.events(spark, sf0001)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), us(r.getTimestamp(2))))
    val want = evs.filter(_._2 == "signup").groupBy(_._1).toSeq
      .map { case (u, ss) =>
        val s = ss.map(_._3).min
        val fp = evs.filter(e => e._1 == u && e._2 == "purchase" &&
          e._3 >= s).map(_._3).sorted.headOption
        fp.map(p => (p - s) / 86400000000L)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    // the signup population is conserved across the buckets
    assert(got.values.sum ==
      evs.filter(_._2 == "signup").map(_._1).distinct.length.toLong)
  }

  test("t49: survivorship algebra is consistent with t12's clustering") {
    val r = SparkEntry.queries("t49_quality_survivorship")(spark, sf0001)
      .head()
    val (nDocs, nComp, nRem) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (best, minid, differs) =
      (r.getDouble(3), r.getDouble(4), r.getLong(5))
    assert(nDocs == Tables.documents(spark, sf0001).count())
    assert(nDocs == nComp + nRem && nComp > 0)
    // best-keeps can never average WORSE than first-id keeps, and the
    // policies must actually disagree somewhere on this corpus
    assert(best >= minid)
    assert(differs > 0 && differs <= nComp)
    // cross-check the component count against t12's clustering plus
    // the singletons t12's pair-graph-only relation omits
    val t12 = SparkEntry.queries("t12_dedup_groups")(spark, sf0001)
      .collect().map(re => (re.getLong(0), re.getLong(1)))
    val inGraphComponents = t12.map(_._2).distinct.length.toLong
    val singletons = nDocs - t12.length
    assert(nComp == inGraphComponents + singletons)
  }

  test("m14: corrupt payloads quarantine per row; good rows decode fully") {
    val got = SparkEntry.queries("m14_decode_quarantine")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.size == docs.length) // every doc has a verdict
    docs.foreach(id => assert(got(id) == (id % 7 != 0), s"doc $id"))
    // good rows carry the same features m03's clean decode produces
    val clean = SparkEntry.queries("m03_decode_features")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getDouble(4))).toMap
    SparkEntry.queries("m14_decode_quarantine")(spark, sf0001)
      .collect().filter(_.getBoolean(1)).foreach { r =>
        val (w, h, mr) = clean(r.getLong(0))
        assert(r.getInt(3) == w && r.getInt(4) == h &&
          r.getDouble(5) == mr)
      }
  }

  test("t48: per-source KL replays from the top-500 vocab distributions") {
    val got = SparkEntry.queries("t48_source_kl")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tokens = docs.flatMap { case (src, tx) =>
      tx.split(" ", -1).map(src -> _) }
    val vocab = tokens.map(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(500)
    val vmap = vocab.toMap
    val nq = vocab.map(_._2).sum
    tokens.groupBy(_._1).foreach { case (src, ts) =>
      val inVocab = ts.map(_._2).filter(vmap.contains)
      val np = inVocab.length.toLong
      val (gn, gnp, cov, kl) = got(src)
      assert(gn == ts.length.toLong && gnp == np)
      assert(cov == np.toDouble / ts.length)
      val want = inVocab.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (t, occ) =>
          val p = occ.length.toDouble / np
          val q = vmap(t).toDouble / nq
          BigDecimal(p * math.log(p / q))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.foldLeft(0.0)(_ + _)
      // terms are rounded to 9 decimals before folding; the replay
      // rounds identically, so equality is exact
      assert(kl == want, s"source $src kl $kl != $want")
      assert(kl > -1e-6) // Gibbs: KL >= 0 up to the term rounding
    }
  }

  test("s22: quantization RMSE replays from the int8 round-trip") {
    val got = SparkEntry.queries("s22_quant_error")(spark, sf0001)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val vecs = Tables.embeddings(spark, sf0001)
      .collect().map(r =>
        (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    vecs.groupBy(_._2).foreach { case (label, members) =>
      val rmses = members.map { case (v, _) =>
        val s = v.map(math.abs).max
        // half-away-from-zero, the Spark/DuckDB round contract
        // (math.round is half-towards-positive and differs at -x.5)
        def r(y: Double) =
          if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
        val e2 = if (s > 0) v.map { x =>
          val q = r(x * 127 / s) * s / 127
          (x - q) * (x - q)
        }.foldLeft(0.0)(_ + _) else 0.0
        math.sqrt(e2 / 64)
      }
      val (n, mean, mx) = got(label)
      assert(n == members.length.toLong)
      assert(mx == rmses.max)
      assert(math.abs(mean - rmses.sorted.foldLeft(0.0)(_ + _) / n) == 0.0)
      // int8 at scale 127 bounds per-dim error by s/254 + rounding
      assert(mx < 0.01, s"label $label rmse $mx implausibly large")
    }
  }

  test("e31: top journeys replay from the per-user ordered walks") {
    val got = SparkEntry.queries("e31_journey_trigrams")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.size == 10)
    // replay: walk each user's (ts, event_id)-ordered types
    val walks = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
      .groupBy(_._1).values
      .flatMap { evs =>
        val ts = evs.sortBy(e => (e._2.getTime, e._3)).map(_._4)
        ts.sliding(3).filter(_.length == 3).map(_.mkString(">"))
      }
    val counts = walks.groupBy(identity).view.mapValues(_.size.toLong)
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(got.toSeq == want)
  }

  test("e30: the 168-cell profile conserves events and replays per cell") {
    val got = SparkEntry.queries("e30_seasonality")(spark, sf0001)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    assert(got.nonEmpty && got.keys.forall { case (d, h) =>
      d >= 0 && d <= 6 && h >= 0 && h <= 23 })
    val evs = Tables.events(spark, sf0001)
      .select(weekday(col("ts")).as("d"), hour(col("ts")).as("h"),
        col("user_id"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    assert(got.values.map(_._1).sum == evs.length.toLong)
    val byCell = evs.groupBy(_._1)
    assert(got.keySet == byCell.keySet)
    byCell.foreach { case (cell, rows) =>
      val (n, users, share) = got(cell)
      assert(n == rows.length.toLong)
      assert(users == rows.map(_._2).distinct.length.toLong)
      assert(share == rows.length.toDouble / evs.length)
    }
  }

  test("m13: histograms conserve pixel counts and replay the formula") {
    val got = SparkEntry.queries("m13_color_histogram")(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    assert(got.size == docs.length * 16)
    docs.foreach { case (id, nc) =>
      val (w, h) = ((4 + nc % 13).toInt, (3 + nc % 7).toInt)
      def binsOf(f: (Int, Int) => Long): Map[Int, Long] =
        (for (x <- 0 until w; y <- 0 until h)
          yield (f(x, y) % 256).toInt / 16)
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (rb, gb, bb) = (
        binsOf((x, y) => id * 19 + x * 23 + y * 29),
        binsOf((x, y) => id * 11 + x * 13 + y * 17),
        binsOf((x, y) => id * 7 + x * 3 + y * 5))
      (0 until 16).foreach { b =>
        assert(got((id, b)) == ((rb.getOrElse(b, 0L),
          gb.getOrElse(b, 0L), bb.getOrElse(b, 0L))), s"doc $id bin $b")
      }
      // conservation: every channel's bins sum to w*h
      assert((0 until 16).map(b => got((id, b))._1).sum == w.toLong * h)
    }
  }

  test("q59: the first-touch rewrite IS the cumulative distinct") {
    val got = SparkEntry.queries("q59_cumulative_distinct")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // replay the DEFINITION (per-frame distinct), not the rewrite
    val ship = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"),
        to_date(date_trunc("month", col("l_shipdate"))).as("m"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val supNat = Tables.supplier(spark, sf0001)
      .join(Tables.nation(spark, sf0001),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.groupBy(_._1).foreach { case (nation, rows) =>
      rows.foreach { case (_, month, nNew, cum) =>
        val upTo = ship.filter { case (sk, m) =>
          supNat(sk) == nation && !m.isAfter(month) }.map(_._1).toSet
        assert(cum == upTo.size.toLong, s"$nation $month cum")
        val before = ship.filter { case (sk, m) =>
          supNat(sk) == nation && m.isBefore(month) }.map(_._1).toSet
        assert(nNew == (upTo -- before).size.toLong, s"$nation $month new")
      }
    }
  }

  test("t50: every distinct 5-gram is owned exactly once, first doc scores 1.0") {
    val got = SparkEntry.queries("t50_ngram_novelty")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, nw, nd, nn, ratio) =>
      assert(nn <= nd && nd <= nw.toLong, s"doc $id bounds")
      if (nd > 0) assert(ratio == nn.toDouble / nd, s"doc $id ratio")
      else assert(ratio == 0.0, s"doc $id empty ratio")
    }
    // ownership partitions the corpus vocabulary: summed novel counts
    // equal the corpus-wide distinct-window count
    val corpusDistinct = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.TextExprs.ngramHashes(
        split(col("text"), " "), 5, distinct = true)).as("wh"))
      .distinct().count()
    assert(got.map(_._4).sum == corpusDistinct)
    // the earliest doc with any window contributes only novel windows
    val first = got.filter(_._3 > 0).minBy(_._1)
    assert(first._5 == 1.0, s"first doc ${first._1} must be all-novel")
  }

  test("t50 collapse: duplicated corpus equals the uncollapsed definition") {
    // the rep-level ownership rewrite must be invisible: on a corpus
    // where every text appears 4 times at shifted ids, the registered
    // query equals the per-doc window enumeration computed verbatim
    val off = 100000L
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dup-novelty").toString
    val docs = Tables.documents(spark, sf0001)
    (0 to 3).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * off)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val wins = all.select(col("doc_id"),
      explode(graft.functions.TextExprs.ngramHashes(
        split(col("text"), " "), 5, distinct = true)).as("wh"))
    val own = min(col("doc_id")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("wh")))
    val brute = all
      .select(col("doc_id"),
        greatest((size(split(col("text"), " ")) - 4).cast("int"), lit(0))
          .as("n_windows"))
      .join(wins.withColumn("own", own).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nd"),
          sum(when(col("own") === col("doc_id"), 1L).otherwise(0L))
            .as("nn")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("nd"), lit(0L)).as("n_distinct_windows"),
        coalesce(col("nn"), lit(0L)).as("n_novel_windows"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = SparkEntry.queries("t50_ngram_novelty")(spark, dir)
      .select("doc_id", "n_windows", "n_distinct_windows",
        "n_novel_windows")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == brute)
  }

  test("t53: buckets are ordered by score within a language") {
    val got = SparkEntry.queries("t53_perplexity_buckets")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    assert(got.nonEmpty)
    got.foreach { case (id, _, nb, score, bucket) =>
      assert(Set("head", "middle", "tail")(bucket), s"doc $id bucket")
      assert(score >= 0.0 && score <= 1.0, s"doc $id score $score")
      if (nb == 0) assert(score == 0.0, s"empty doc $id must score 0")
    }
    // the tertile cut is a total order: within a language every head
    // doc outscores every middle doc, which outscores every tail doc
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._5).view.mapValues(_.map(_._4))
      for {
        hd <- byBucket.get("head"); md <- byBucket.get("middle")
      } assert(hd.min > md.max, s"$lang head<=middle")
      for {
        md <- byBucket.get("middle"); tl <- byBucket.get("tail")
      } assert(md.min > tl.max, s"$lang middle<=tail")
      // all three buckets populated at fixture scale (100 docs/lang)
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"$lang buckets ${byBucket.keySet}")
    }
  }

  test("t54: a planted eval overlap is flagged; unique text stays clean") {
    import spark.implicits._
    def h(id: Long): Char = {
      val m = java.security.MessageDigest.getInstance("MD5")
      m.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
    }
    val ids = (1L to 50L)
    val evalId = ids.find(h(_) >= 'e').get
    val trainIds = ids.filter(h(_) < 'e')
    val (dupId, cleanId) = (trainIds.head, trainIds(1))
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val unique = (1 to 20).map(i => s"only$i").mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-decontam").toString
    Seq((evalId, shared), (dupId, shared), (cleanId, unique))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t54_decontamination")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // eval docs are excluded from the scored output
    assert(!got.contains(evalId))
    // 20 tokens -> 8 distinct 13-gram windows, all shared with eval
    assert(got(dupId) == ((8, 8L, 8L, true)), got(dupId).toString)
    assert(got(cleanId) == ((8, 8L, 0L, false)), got(cleanId).toString)
  }

  test("t63: DSIR weights separate target-like from raw-like candidates") {
    import spark.implicits._
    // target source src0 writes "alpha beta gamma delta"; the raw pool
    // (src1) mostly writes "zeta eta theta iota". A candidate that
    // writes like the TARGET must carry a positive importance weight,
    // one that writes like the RAW POOL a negative one — that sign
    // split is the DSIR contract (log p_target − log p_raw).
    val tgtText = "alpha beta gamma delta alpha beta gamma delta"
    val rawText = "zeta eta theta iota zeta eta theta iota"
    val docs =
      (1L to 10L).map(i => (i, tgtText, "src0")) ++
        Seq((100L, tgtText, "src1"), (101L, rawText, "src1")) ++
        (102L to 111L).map(i => (i, rawText, "src1"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dsir").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t63_dsir_weights")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    Scoped.release()
    // only candidates (never the target corpus) are scored/selected,
    // and at fixture scale all 12 fit inside the top-200 cut
    assert(got.size == 12, s"selected ${got.size}")
    assert(got.keySet.forall(_ >= 100L), got.keySet.toString)
    // n_bigrams counts adjacent pairs with multiplicity: 8 tokens -> 7
    assert(got(100L)._2 == 7L, got(100L).toString)
    val wTarget = got(100L)._3
    val wRaw = got(101L)._3
    assert(wTarget > 0.0, s"target-like weight $wTarget")
    assert(wRaw < 0.0, s"raw-like weight $wRaw")
    assert(wTarget > wRaw + 1.0, s"separation $wTarget vs $wRaw")
    // sample_key − weight is exactly the Gumbel draw g = −ln(−ln u)
    // with u from 48 md5 bits (+0.5), so it is bounded by the draw's
    // theoretical range: g ∈ (−ln ln 2⁴⁹, ln 2⁴⁹) ≈ (−3.52, 34)
    got.values.foreach { case (_, _, w, key) =>
      val g = key - w
      assert(g > -3.6 && g < 34.5, s"gumbel draw out of range: $g")
    }
  }

  test("t55: temperature flattening caps big sources and hits the volume target") {
    val rows = SparkEntry.queries("t55_temperature_sampling")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, _, u, p, keep) =>
      assert(u >= 0.0 && u < 1.0, s"doc $id u=$u")
      assert(p > 0.0 && p <= 1.0, s"doc $id p=$p")
      assert(keep == (u < p), s"doc $id keep flag")
    }
    val bySource = rows.groupBy(_._2)
      .map { case (src, rs) => (src, rs.length.toLong, rs.head._4) }
      .toSeq
    // τ=0.5 flattening: keep probability never increases with size
    bySource.sortBy(_._2).sliding(2).foreach {
      case Seq((_, n1, p1), (_, n2, p2)) =>
        if (n1 < n2) assert(p1 >= p2, s"flattening order $n1/$n2")
      case _ =>
    }
    // expected sampled volume equals the half-corpus target when no
    // source saturates at p=1 (it can only fall below with caps)
    val total = rows.length.toLong
    val expected = bySource.map { case (_, n, p) => n * p }.sum
    if (bySource.forall(_._3 < 1.0))
      assert(math.abs(expected - total / 2) < 1e-6 * total, s"$expected")
    else assert(expected <= total / 2 + 1e-6 * total, s"$expected")
  }

  test("s27: outliers are exactly the per-label distance tail") {
    val rows = SparkEntry.queries("s27_embedding_outliers")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (label, rs) =>
      val (out, in) = rs.partition(_._4)
      // p95 cut: a small tail, never the bulk
      assert(out.length < rs.length / 4, s"label $label ${out.length}")
      // the flag is a pure threshold on dist: every outlier is
      // strictly farther than every inlier
      if (out.nonEmpty) assert(out.map(_._3).min > in.map(_._3).max,
        s"label $label not a clean cut")
    }
    // distance is against the label MEAN: recompute one label's
    // centroid arithmetically and check a vector's score (1e-9: the
    // registered sorted fold sums in a different order)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble)))
    val lab = e.head._2
    val members = e.filter(_._2 == lab)
    val cent = members.map(_._3.toSeq).toSeq.transpose
      .map(xs => xs.sum / xs.size)
    val v = members.head
    val want = math.sqrt(v._3.zip(cent).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    val got = rows.find(_._1 == v._1).get._3
    assert(math.abs(got - want) < 1e-9, s"$got vs $want")
  }

  test("s24: per-class budget is ceil(n/5) and ranks walk outward from the mean") {
    val got = SparkEntry.queries("s24_herding_coreset")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(got.nonEmpty)
    val classSizes = Tables.embeddings(spark, sf0001)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (label, rows) =>
      val want = (classSizes(label) + 4) / 5 // ceil(n/5)
      assert(rows.length.toLong == want, s"label $label budget")
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rows.length), s"label $label ranks")
      // herding order: d² never decreases as rank grows
      assert(byRank.map(_._3).sliding(2).forall(p =>
        p.length < 2 || p(0) <= p(1)), s"label $label monotone")
    }
    // every class survives selection (the class-balance contract)
    assert(got.map(_._1).toSet == classSizes.keySet)
  }

  test("m16: segments are exactly the maximal >=2-frame voiced runs") {
    val segs = SparkEntry.queries("m16_audio_vad")(spark, sf0001)
      .select("doc_id", "start_frame", "end_frame", "n_frames")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3)))
    assert(segs.nonEmpty)
    // replay the gate over the same decoded frames, island-by-island
    val thr = 25L * 16384L * 16384L
    val voiced = Multimodal.wavFixture(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .flatMap { case (id, bytes) =>
        Multimodal.decodeWavFrames(id, bytes, 25)
          .filter(_.energy >= thr).map(f => (id, f.frame_id))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val wantIslands = voiced.toSeq.flatMap { case (id, fs) =>
      // split the sorted voiced frame ids into consecutive runs
      fs.foldLeft(List.empty[List[Int]]) {
        case (acc @ (run :: rest), f) if f == run.head + 1 =>
          (f :: run) :: rest
        case (acc, f) => List(f) :: acc
      }.map(r => (id, r.min, r.max, r.length)).filter(_._4 >= 2)
    }.toSet
    assert(segs.toSet == wantIslands)
  }

  test("m17: shots are exactly the fixture's scenes") {
    val shots = SparkEntry.queries("m17_scene_detect")(spark, sf0001)
      .select("doc_id", "shot_id", "start_frame", "n_frames")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3)))
    assert(shots.nonEmpty)
    // independent replay: decode the same payloads, re-derive cuts
    // from the SAD band (the threshold's provable margin means the
    // detected shots must equal the generator's scenes exactly)
    val dims = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "cast(20 + n_chars % 31 as int) as nf",
        "cast(3 + n_chars % 6 as int) as sl")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    shots.groupBy(_._1).foreach { case (id, ss) =>
      val (nf, sl) = dims(id)
      val wantShots = (nf + sl - 1) / sl
      assert(ss.length == wantShots, s"doc $id shot count")
      ss.sortBy(_._2).zipWithIndex.foreach { case ((_, sid, start, n), i) =>
        assert(sid == i + 1, s"doc $id shot ids dense")
        assert(start == i * sl, s"doc $id shot $sid start")
        assert(n == math.min(sl, nf - start), s"doc $id shot $sid len")
      }
    }
    // and the decoder itself round-trips the encoder's frame count +
    // SAD bands: within-scene SAD <= 4*n_px, cross-scene >= 97*n_px
    val media = Multimodal.videoFixture(spark, sf0001).limit(50)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    media.foreach { case (id, bytes) =>
      val (nf, sl) = dims(id)
      val frames = Multimodal.decodeVideoFrames(id, bytes)
      assert(frames.length == nf, s"doc $id frame count")
      frames.filter(_.frame_id > 0).foreach { f =>
        val sad = f.sad_prev.get
        if (f.frame_id % sl == 0)
          assert(sad >= 97L * f.n_px, s"doc $id f=${f.frame_id} cross")
        else assert(sad <= 4L * f.n_px, s"doc $id f=${f.frame_id} within")
      }
    }
  }

  test("m18: shots tile the clip, so each segment's overlaps sum to its span") {
    val rows = SparkEntry.queries("m18_av_align")(spark, sf0001)
      .select("doc_id", "seg_id", "shot_id", "a_start", "a_end",
        "ov_units", "ov_frac")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    // na/nv denominators re-derived from the metadata formulas
    val dims = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "cast((50 + n_chars % 211) / 25 as int) as na",
        "cast(20 + n_chars % 31 as int) as nv")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    rows.foreach { case (id, _, _, _, _, ov, frac) =>
      val (na, nv) = dims(id)
      assert(ov > 0, s"doc $id non-positive overlap emitted")
      assert(frac == ov.toDouble / (na.toLong * nv), s"doc $id frac")
    }
    // each (seg, shot) pair at most once; per-segment overlap units
    // sum to exactly (a_end + 1 - a_start) * nv — full tiling
    rows.groupBy(r => (r._1, r._2)).foreach { case ((id, seg), rs) =>
      val (_, nv) = dims(id)
      assert(rs.map(_._3).distinct.length == rs.length,
        s"doc $id seg $seg duplicate shot pair")
      val span = (rs.head._5 + 1 - rs.head._4).toLong * nv
      assert(rs.map(_._6).sum == span, s"doc $id seg $seg tiling")
    }
  }

  test("t57: prefix-filtered containment equals brute force; directed") {
    val got = SparkEntry.queries("t57_containment_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    // brute force over the string shingle sets, every ordered pair
    val sets = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "text").collect().map { r =>
        val t = r.getString(1).split(" ")
        r.getLong(0) -> t.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      ni = (sa & sb).size if 5L * ni >= 4L * sa.size
    } yield (a, b) -> (sa.size.toLong, ni.toLong,
      ni.toDouble / sa.size)).toMap
    assert(got == want)
    // the relation is genuinely DIRECTED: the two directions of a
    // pair score differently (containment normalizes by the source's
    // set size — a symmetric metric like t08's Jaccard could not)
    assert(got.exists { case ((a, b), (_, _, c)) =>
      got.get((b, a)).exists(_._3 != c)
    })
  }

  test("t69: bottom-k containment estimates ride t57's exact pair set; " +
      "the estimator is an unbiased membership sample with bounded error") {
    val exact = SparkEntry.queries("t57_containment_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Scoped.release()
    val est = SparkEntry.queries("t69_bottomk_containment")(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))))
    Scoped.release()
    assert(est.nonEmpty)
    // same decision set: t69 prices the pairs the exact operator
    // emits, one row per directed pair
    assert(est.map(_._1).toSet == exact && est.length == exact.size)
    est.foreach { case ((a, b), (c, e, err)) =>
      assert(e >= 0.0 && e <= 1.0, s"($a,$b) est $e out of range")
      assert(math.abs(e - c) == err, s"($a,$b) abs_err mismatch")
      // k=32 without-replacement membership sample of a set whose
      // true containment is ≥ 0.8 on every emitted pair: the
      // hypergeometric tail keeps the estimate far from zero — a
      // loose but meaningful sanity bound (exact rows hash-match the
      // oracle, so this guards the ESTIMATOR's shape, not values)
      assert(e >= 0.5, s"($a,$b) est $e implausibly low for c=$c")
    }
    // identical texts (intra-rep pairs) must estimate exactly 1.0:
    // sig(A) ⊆ TH(A) by construction
    val ones = est.filter(_._2._1 == 1.0)
    assert(ones.nonEmpty && ones.forall(_._2._2 == 1.0),
      "a fully-contained pair must sample at 1.0")
  }

  test("s28: triplets are well-formed and the margin is never negative") {
    val rows = SparkEntry.queries("s28_contrastive_triplets")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    def bkt(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.take(6), 16) % 64).toInt
    }
    rows.foreach { case (q, pos, posCos, neg, negCos, margin) =>
      assert(q != pos && q != neg && pos != neg, s"anchor $q ids")
      // the positive is the GLOBAL cosine top-1, so no other vector
      // — the negative included — can beat it
      assert(margin >= 0.0 && margin == posCos - negCos, s"anchor $q")
      // the negative draws from bucket (own + 7) mod 64
      assert(bkt(neg) == (bkt(q) + 7) % 64, s"anchor $q bucket rule")
    }
  }

  test("s30: purity and Rand index match a driver-side recount") {
    val row = SparkEntry.queries("s30_cluster_purity")(spark, sf0001)
      .collect().head
    val (n, k, purity, ri) = (row.getLong(0), row.getInt(1),
      row.getDouble(2), row.getDouble(3))
    val assigned = Similarity.kMeans(spark, sf0001)._1
      .join(Tables.embeddings(spark, sf0001)
        .selectExpr("vec_id", "label"), "vec_id")
      .selectExpr("cid", "label").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(n == assigned.length)
    val cont: Map[(Int, Int), Long] =
      assigned.groupBy(identity).map { case (kk, v) => kk -> v.length.toLong }
    assert(k == cont.keys.map(_._1).toSeq.distinct.length)
    val wantPurity = cont.groupBy(_._1._1)
      .map(_._2.values.max).sum.toDouble / n
    assert(purity == wantPurity, s"purity $purity vs $wantPurity")
    def c2(x: Long) = x * (x - 1) / 2
    val a = cont.values.map(c2).sum
    val sc = cont.groupBy(_._1._1).map(g => c2(g._2.values.sum)).sum
    val sl = cont.groupBy(_._1._2).map(g => c2(g._2.values.sum)).sum
    val cn2 = c2(n)
    val wantRi = (cn2 - sc - sl + 2 * a).toDouble / cn2
    assert(ri == wantRi, s"rand $ri vs $wantRi")
  }

  test("m19: quadrant SADs partition the frame SAD exactly") {
    val media = Multimodal.videoFixture(spark, sf0001).limit(40)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    media.foreach { case (id, bytes) =>
      val frames = Multimodal.decodeVideoFrames(id, bytes)
      val tiles = Multimodal.decodeVideoMotion(id, bytes)
        .groupBy(_.frame_id)
      frames.filter(_.frame_id > 0).foreach { f =>
        val qs = tiles(f.frame_id)
        assert(qs.map(_.n_px_q).sum == f.n_px, s"doc $id f=${f.frame_id} px")
        assert(qs.map(_.sad).sum == f.sad_prev.get,
          s"doc $id f=${f.frame_id} sad partition")
      }
    }
  }

  test("m20: the detected lag IS the planted fundamental, NAC ≈ 1 there") {
    val planted = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "CAST(20 + (n_chars % 20) AS INT) AS p")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("m20_pitch_track")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.length == planted.size, s"${rows.length} rows")
    rows.foreach { case (id, rate, nf, lag, nac, hz) =>
      // detection = ground truth, for every doc: the signal is exactly
      // periodic at the planted lag, so NAC there is 1 up to the one
      // √ rounding, and strictly higher than at any wrong lag
      assert(lag == planted(id), s"doc $id detected $lag != ${planted(id)}")
      assert(math.abs(nac - 1.0) < 1e-9, s"doc $id nac $nac")
      assert(nf > lag, s"doc $id overlap")
      assert(math.abs(hz - rate.toDouble / lag) < 1e-6, s"doc $id hz")
    }
    // the estimator is not degenerate: the planted periods span the
    // whole 20–39 band at fixture scale
    assert(rows.map(_._4).distinct.length > 10, "period diversity")
  }

  test("s32: the probe curve is monotone and pinned at the full-scan edge") {
    val rows = SparkEntry.queries("s32_probe_recall")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8), rows.mkString(","))
    // more probes never hurt recall and never scan less
    rows.sliding(2).foreach { case Array((_, _, r1, f1), (_, _, r2, f2)) =>
      assert(r2 >= r1, s"recall monotone: $r1 -> $r2")
      assert(f2 >= f1, s"scan monotone: $f1 -> $f2")
    }
    // probing all 8 cells IS the brute search: recall exactly 1, scan
    // fraction exactly (N−1)/N (the query excludes itself)
    val n = Tables.embeddings(spark, sf0001).count()
    val (_, _, rAll, fAll) = rows.last
    assert(rAll == 1.0, s"full-probe recall $rAll")
    assert(math.abs(fAll - (n - 1).toDouble / n) < 1e-12, s"frac $fAll")
    rows.foreach { case (np, nq, r, f) =>
      assert(nq > 0 && r >= 0.0 && r <= 1.0 && f > 0.0 && f <= 1.0,
        s"np=$np bounds")
    }
  }

  test("spill memos recompute after their backing files vanish: sweeping " +
      "the session spill root fails no later consumer") {
    // the r13 KNOWN TRADE, retired: session memos were localCheckpoint
    // blocks with no recompute path — a lost holder failed every later
    // reader. Now they are parquet spills with a liveness check, so
    // losing the ENTIRE spill store mid-session (swept temp dir, lost
    // disk — strictly worse than one executor's blocks) must cost a
    // recompute, never a failure, and yield identical values.
    val before = SparkEntry.queries("m10_ahash_groups")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Scoped.release()
    // table-shaped spills too: q61's partitioned lineitem copy and
    // m15's bronze media table (over the spilled .bmp tree)
    val tableQueries = Seq("q61_dpp_prune", "m15_bronze_media")
    def tableRows() = tableQueries.map { q =>
      try SparkEntry.queries(q)(spark, sf0001).collect().toSeq
      finally Scoped.release()
    }
    val tablesBefore = tableRows()
    val root = new java.io.File(Spill.root(spark))
    assert(root.isDirectory && root.listFiles().nonEmpty,
      "m10 must have spilled its memoized labels")
    def nuke(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(nuke)
      f.delete(); ()
    }
    root.listFiles().foreach(nuke)
    assert(root.listFiles().isEmpty, "spill store swept")
    // m21 consumes the SAME memoized label relation m10 spilled —
    // its next access must recompute transparently…
    val m21 = SparkEntry.queries("m21_caption_reuse")(spark, sf0001)
      .collect()
    Scoped.release()
    assert(m21.nonEmpty, "m21 recomputed over a fresh spill")
    // …and a re-run of m10 itself returns the identical relation
    val after = SparkEntry.queries("m10_ahash_groups")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Scoped.release()
    assert(after == before, "recomputed labels are value-identical")
    assert(tableRows() == tablesBefore,
      "swept spill tables recompute to identical rows")
  }

  test("spill roots are session-unique under a shared durable dir, and " +
      "liveness survives a deleted _SUCCESS marker") {
    // ADVICE r14: rel-<counter> paths reset per JVM, so a restarted
    // (or second concurrent) driver pointed at the same durable
    // graft.spill.dir collided with the previous run's rel-1… dirs
    // and ErrorIfExists failed the first memoized write. The root is
    // now a per-session unique subdirectory. And alive() required a
    // _SUCCESS marker, so marker-disabled deployments recomputed and
    // re-spilled on EVERY access — part-file presence is now the
    // fallback.
    val base = java.nio.file.Files
      .createTempDirectory("graft-spill-shared").toString
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    s1.conf.set("graft.spill.dir", base)
    s2.conf.set("graft.spill.dir", base)
    val (r1, r2) = (Spill.root(s1), Spill.root(s2))
    assert(r1 != r2, "two sessions over one durable dir must not share " +
      "a root (their rel counters both start at the same value)")
    assert(r1.startsWith(base) && r2.startsWith(base))
    // a spill written under s1 stays alive after its _SUCCESS marker
    // is deliberately removed (markers-disabled deployments)…
    import s1.implicits._
    val (path, scan) = Spill.write(Seq(1L, 2L, 3L).toDF("v"))
    assert(Spill.alive(s1, path))
    val marker = new java.io.File(path, "_SUCCESS")
    assert(marker.isFile && marker.delete())
    assert(Spill.alive(s1, path),
      "part files present: the spill must still read as alive")
    assert(scan.count() == 3)
    scan.unpersist()
    // …while a fully swept directory still reads dead
    def nuke(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(nuke)
      f.delete(); ()
    }
    nuke(new java.io.File(path))
    assert(!Spill.alive(s1, path))
  }

  test("m21: reported groups are exactly m10's multi-member components") {
    val m10 = SparkEntry.queries("m10_ahash_groups")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Scoped.release()
    val expected = m10.groupBy(_._2).filter(_._2.length >= 2)
      .map { case (g, ms) => g -> ms.length.toLong }
    val got = SparkEntry.queries("m21_caption_reuse")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    Scoped.release()
    assert(got.map(g => g._1 -> g._2).toMap == expected,
      s"groups ${got.length} vs ${expected.size}")
    got.foreach { case (g, nDocs, nTexts, reuse) =>
      assert(nTexts >= 1 && nTexts <= nDocs, s"group $g counts")
      assert(reuse == (nTexts > 1), s"group $g flag")
    }
  }

  test("s33: more code bytes never lose recall on the anchor corpus") {
    val rows = SparkEntry.queries("s33_code_sweep")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(4, 8, 16), rows.mkString(","))
    rows.foreach { case (m, bytes, nq, rec) =>
      assert(bytes == m, s"m=$m bytes")
      assert(nq > 0 && rec >= 0.0 && rec <= 1.0, s"m=$m bounds")
    }
    // finer quantization pays: the recall curve is non-decreasing in
    // m on the anchor corpus (an empirical regression pin — PQ offers
    // no theorem here, but a refactor that breaks the codebooks shows
    // up as an inversion long before it breaks the oracle)
    rows.sliding(2).foreach { case Array((_, _, _, r1), (_, _, _, r2)) =>
      assert(r2 >= r1, s"recall monotone: $r1 -> $r2")
    }
  }

  test("s29: mining is margin-normalized, one best pair per source") {
    val rows = SparkEntry.queries("s29_bitext_mining")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "one per x")
    assert(rows.forall(_._4 >= 1.0), "margin gate")
    // the margin pick must genuinely differ from the raw-cosine pick
    // for some anchor — otherwise the hubness normalization is inert
    val e = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val xs = e.filter(_._3 == 0); val ys = e.filter(_._3 == 1)
    val rawBest = xs.map { case (xid, xv, _) =>
      xid -> ys.map { case (yid, yv, _) => (yid, cos(xv, yv)) }
        .minBy { case (yid, c) => (-c, yid) }._1
    }.toMap
    assert(rows.exists { case (x, y, _, _) => rawBest(x) != y },
      "margin pick never diverged from the raw-cosine pick")
  }

  test("e34: merged-sketch WAU is exact in the pinned coupon regime") {
    val rows = SparkEntry.queries("e34_rolling_hll")(spark, sf0001)
      .select("day", "wau_exact", "wau_est", "rel_err")
      .collect().map(r => (r.getDate(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (day, exact, est, err) =>
      assert(err == math.abs(est - exact).toDouble / exact, s"$day err")
      // cohort key (≤400 distinct) keeps every sketch and union in
      // coupon mode — the estimate is the exact count, not a bound
      assert(est == exact, s"$day: est $est vs exact $exact")
    }
  }

  test("e34: the 256-cohort key set is exact through the sketch AND union paths") {
    // the regime's hash-dependent premises, checked on the FIXED key
    // set itself (deterministic — not a per-corpus gamble): all 256
    // possible cohorts, sketched directly AND merged through a 7-way
    // union (the rolling window's exact shape), estimate exactly 256
    // — so no two cohort values share a coupon and every SUBSET (any
    // day, any window union) estimates exactly too
    import spark.implicits._
    val est = (0L until 256L).toDF("cohort")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("cohort"))))
      .head().getLong(0)
    assert(est == 256L, s"coupon collision in the cohort key set: $est")
    val uest = (0L until 256L).map(i => (i, i % 7)).toDF("cohort", "g")
      .groupBy("g").agg(hll_sketch_agg(col("cohort")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head().getLong(0)
    assert(uest == 256L, s"union-path drift on the cohort key set: $uest")
  }

  test("e34: raw-user_id sketches hold the HLL accuracy contract at scale regime") {
    // the ORIGINAL approximate contract, kept on the unbounded key the
    // production pipeline would sketch: merged daily sketches over raw
    // user_id estimate the exact weekly actives within 5% (lgConfigK=12
    // → σ ≈ 1.6%; 5% > 3σ)
    val pairs = graft.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().persist()
    try {
      val est = pairs.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .select(col("day"), col("sk"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(date_add(col("day"), col("off")).as("day"), col("sk"))
        .join(pairs.select(col("day")).distinct(), Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = pairs
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"), col("day"))
        .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
        .join(pairs.select(col("day")).distinct(), Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(count_distinct(col("user_id")).as("exact"))
      val rows = est.join(exact, Seq("day"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(rows.nonEmpty)
      rows.foreach { case (e, x) =>
        assert(math.abs(e - x).toDouble / x < 0.05, s"est $e vs exact $x")
      }
    } finally pairs.unpersist()
  }

  test("s25: MMR greedy is order-independent and within-shortlist greedy-optimal") {
    import graft.functions.Aggregators.{MmrCand, MmrSelect}
    val rnd = new scala.util.Random(77)
    val cands = (0 until 20).map { i =>
      MmrCand(100 + i, rnd.nextDouble(),
        Seq.fill(8)(rnd.nextDouble() - 0.5))
    }
    val mmr = new MmrSelect(8, 0.7, 0.3)
    val base = mmr.finish(cands)
    // buffer arrival order must not change the selection
    (1 to 5).foreach { k =>
      val perm = rnd.shuffle(cands)
      assert(mmr.finish(perm) == base, s"permutation $k diverged")
    }
    // greedy contract: rank-1 is the max-relevance candidate, and at
    // every step the recorded score is the max achievable over the
    // remaining candidates given the selected set
    val byId = cands.map(c => c.vec_id -> c).toMap
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cos(a: MmrCand, b: MmrCand) =
      dot(a.emb, b.emb) / (math.sqrt(dot(a.emb, a.emb)) *
        math.sqrt(dot(b.emb, b.emb)))
    assert(base.head.vec_id ==
      cands.maxBy(c => (c.rel, -c.vec_id)).vec_id)
    base.zipWithIndex.foreach { case (pick, i) =>
      val sel = base.take(i).map(p => byId(p.vec_id))
      val best = cands.filterNot(c => sel.exists(_.vec_id == c.vec_id))
        .map { c =>
          val pen = if (sel.isEmpty) 0.0 else sel.map(s => cos(c, s)).max
          0.7 * c.rel - 0.3 * pen
        }.max
      assert(pick.mmr_score == best, s"rank ${i + 1} not greedy-max")
    }
  }

  test("s26: coded-shortlist MMR agrees with the exact s25 above the floor") {
    val exact = SparkEntry.queries("s25_mmr_rerank")(spark, sf0001)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val coded = SparkEntry.queries("s26_mmr_coded")(spark, sf0001)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.length == coded.length && exact.nonEmpty)
    val byQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val agreements = coded.groupBy(_._1).map { case (q, picks) =>
      picks.map(_._2).toSet.intersect(byQ(q)).size.toDouble / 8
    }
    val mean = agreements.sum / agreements.size
    // ADC-shortlist recall bounds the pick agreement (~0.75 observed
    // at sf0.001/sf0.01); 0.5 is the regression floor
    assert(mean >= 0.5, s"mean pick agreement $mean below floor")
  }

  test("s31: coded-shortlist bitext mining agrees with the exact s29 on the anchor corpus") {
    val exact = SparkEntry.queries("s29_bitext_mining")(spark, sf0001)
      .select("xid", "yid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coded = SparkEntry.queries("s31_bitext_coded")(spark, sf0001)
      .select("xid", "yid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty && coded.nonEmpty)
    // pick agreement over the exact miner's x side: the coded twin
    // should reproduce most (x → y) alignments; the shortfall is
    // ADC-shortlist recall (nprobe 4/8 cells + top-16), the same
    // approximation budget as s26's ~0.75
    val agree = exact.count { case (x, y) => coded.get(x).contains(y) }
      .toDouble / exact.size
    assert(agree >= 0.5, s"pick agreement $agree below floor " +
      s"(exact=${exact.size}, coded=${coded.size})")
    // no cartesian leg: the twin's output stays per-x best-match
    assert(coded.size <= exact.size * 2 + 8,
      s"coded side mined ${coded.size} picks vs exact ${exact.size}")
  }

  test("t64: bloom prefilter output IS t14's exact output, and it prunes") {
    import org.apache.spark.sql.functions._
    // no false negatives: the bloom route must reproduce the exact
    // decontamination relation cell-for-cell
    val exact = SparkEntry.queries("t14_decontaminate")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = SparkEntry.queries("t64_bloom_decontam")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try assert(bloom == exact && bloom.nonEmpty)
    finally Scoped.release()
    // ...and the prefilter genuinely sheds corpus rows before the
    // verify join: replay the bit test standalone and require a
    // strict prune (matched rows ≤ bloom-positive < all corpus rows)
    val docs = Tables.documents(spark, sf0001)
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.shingleHashes(col("text"), 3))
        .as("s"))
    val corpus = sh.filter(col("doc_id") % 17 =!= 0)
    val total = corpus.count()
    val matched = corpus.join(
      broadcast(sh.filter(col("doc_id") % 17 === 0)
        .select("s").distinct()), "s").count()
    assert(matched < total,
      s"fixture degenerate: every corpus shingle matches ($matched)")
  }

  test("t65: candidates are exactly the shared-8-gram pairs; the banded " +
    "verifier agrees with plain Levenshtein") {
    val rows = SparkEntry.queries("t65_editdist_pairs")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // brute-force reference: shared word-8-gram, |Δlen| ≤ 64, lev ≤ 64
    def grams(t: String): Set[String] =
      t.split(" ").sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    def lev(a: String, b: String): Int = {
      val (n, m) = (a.length, b.length)
      var prev = Array.tabulate(m + 1)(identity)
      for (i <- 1 to n) {
        val cur = new Array[Int](m + 1); cur(0) = i
        for (j <- 1 to m)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(m)
    }
    val ids = texts.keys.toSeq.sorted
    val gsets = texts.map { case (id, t) => id -> grams(t) }
    val want = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      if gsets(a).nonEmpty && (gsets(a) & gsets(b)).nonEmpty
      if math.abs(texts(a).length - texts(b).length) <= 64
      d = lev(texts(a), texts(b)) if d <= 64
    } yield (a, b) -> d).toMap
    val got = rows.map { case (da, db, _, _, dist, _) => (da, db) -> dist }
      .toMap
    assert(got.view.mapValues(_.toInt).toMap == want,
      s"got ${got.size} pairs, want ${want.size}")
    // sim bounds + the thresholded kernel never emits its -1 sentinel
    rows.foreach { case (da, db, la, lb, dist, sim) =>
      assert(dist >= 0 && dist <= 64, s"($da,$db)")
      assert(sim > 0.0 && sim <= 1.0, s"($da,$db) sim=$sim")
      assert(dist >= math.abs(la - lb), s"($da,$db) len lower bound")
    }
  }

  test("s34: removals are cell-scoped, justified by a real ≥eps pair, " +
    "and counts reconcile") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("s34_semdedup")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    val n = Tables.embeddings(spark, sf0001).count()
    assert(out.map(_._2).sum == n, "cells must partition the corpus")
    out.foreach { case (cid, members, removed, keep) =>
      assert(removed >= 0 && removed < members, s"cell $cid")
      assert(math.abs(keep - (1.0 - removed.toDouble / members)) < 1e-12)
    }
    // soundness: every removal count is bounded by the number of
    // vectors that participate in ANY ≥0.4 cosine pair at all (s04's
    // exact all-pairs relation) — SemDeDup can only remove a vector
    // that has a genuine near-duplicate
    val inPairs = SparkEntry.queries("s04_neardup_pairs")(spark, sf0001)
      .select(col("va")).union(
        SparkEntry.queries("s04_neardup_pairs")(spark, sf0001)
          .select(col("vb")))
      .distinct().count()
    assert(out.map(_._3).sum <= inPairs,
      s"removed ${out.map(_._3).sum} > vectors in any near-dup pair " +
        s"$inPairs")
  }

  test("m22: 8 kHz clips resample to identity vs m07; interpolation " +
    "never exceeds the source peak") {
    val rs = SparkEntry.queries("m22_audio_resample")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    // m07: doc_id, n_bytes, sample_rate, n_channels, n_frames,
    //      duration_sec, mean_ch0, mean_ch1, s0_ch0, peak
    val wav = SparkEntry.queries("m07_wav_decode")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4),
        r.getDouble(6), r.getInt(9)))).toMap
    assert(rs.keySet == wav.keySet && rs.nonEmpty)
    rs.foreach { case (id, (srcRate, nf, nOut, meanOut, peakOut)) =>
      val (nch, nf7, mean0, peak) = wav(id)
      assert(nf == nf7, s"doc $id frame count")
      assert(nOut == (nf - 1).toLong * 8000 / srcRate + 1,
        s"doc $id n_out")
      if (srcRate == 8000) {
        // src grid == dst grid: every rem is 0 → exact identity
        assert(nOut == nf.toLong, s"doc $id identity length")
        assert(meanOut == mean0, s"doc $id identity mean")
        if (nch == 1)
          assert(peakOut == peak.toDouble, s"doc $id identity peak")
      }
      // an interpolated sample is a convex combination of two
      // neighbors, so the resampled peak can never exceed the
      // clip peak (which for stereo also covers ch1)
      assert(peakOut <= peak.toDouble + 1e-9, s"doc $id peak bound")
    }
  }

  test("t66: every source fits a negative Zipf slope with r2 in [0,1]") {
    val rows = SparkEntry.queries("t66_zipf_fit")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, slope, r2) =>
      assert(n >= 3 && n <= 256, s"$src n_ranks $n")
      // rank-1 terms are at least as frequent as rank-256 terms, so
      // the OLS line can only tilt down (exactly flat would need every
      // top-256 frequency equal — not this fixture)
      assert(slope < 0.0, s"$src slope $slope")
      assert(r2.isNaN || (r2 >= 0.0 && r2 <= 1.0), s"$src r2 $r2")
    }
  }

  test("t67: vocabulary and token counts grow monotonically in the " +
      "doc budget and saturate at the full source") {
    val rows = SparkEntry.queries("t67_heaps_law")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val bySrc = rows.groupBy(_._1)
    assert(bySrc.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, d1, n1, v1), (_, _, d2, n2, v2)) =>
          assert(d2 >= d1 && n2 >= n1 && v2 >= v1, s"$src monotone")
        case _ => ()
      }
      sorted.foreach { case (_, _, d, n, v) =>
        assert(v <= n, s"$src vocab $v > tokens $n") }
      // the widest budget (65536) covers every doc of the source
      assert(sorted.last._3 == docs(src), s"$src saturation")
    }
  }

  test("e35: lateness is bounded by the planted jitter ceiling and " +
      "counts nest") {
    val rows = SparkEntry.queries("e35_disorder_audit")(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val total = rows.map(_._1).sum
    assert(total == Tables.events(spark, sf0001).count(), s"total $total")
    rows.foreach { case (n, dis, late60, maxLate) =>
      assert(dis <= n && late60 <= dis, s"nesting $n/$dis/$late60")
      // lateness ≤ 299 s by construction: an earlier arrival's event
      // time ts' ≤ arr' ≤ arr = ts + jitter < ts + 300 s (events are
      // event-time ordered before the planted transport jitter)
      assert(maxLate < 300.0, s"max_late $maxLate")
      assert(maxLate >= 0.0)
    }
  }

  test("s35: the bits sweep is monotone and its finest point equals " +
      "an independent full-signature join") {
    val rows = SparkEntry.queries("s35_lsh_sweep")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    Scoped.release()
    assert(rows.map(_._1).toSeq == Seq(4, 6, 8, 10), rows.mkString(","))
    // narrower buckets only shed candidates — and with them catches
    rows.sliding(2).foreach {
      case Array((_, c1, _, g1), (_, c2, _, g2)) =>
        assert(c2 <= c1, s"cand monotone $c1 -> $c2")
        assert(g2 <= g1, s"caught monotone $g1 -> $g2")
      case _ => ()
    }
    rows.foreach { case (b, cand, nTrue, caught) =>
      assert(caught <= nTrue && caught <= cand, s"bits=$b nesting") }
    // the lob-prefix classification at bits=10 IS the direct 10-bit
    // bucket join (pins the one-join-serves-all-levels algebra)
    val planes = Similarity.radPlanes(12 * 10)
    val reps = Tables.embeddings(spark, sf0001)
      .withColumn("rep", min(col("vec_id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("embedding"))))
      .filter(col("vec_id") === col("rep"))
    val sigs = reps.select(col("vec_id"),
        posexplode(graft.functions.VectorExprs.hyperplaneSigs(
          col("embedding"), planes, 10)))
      .toDF("vec_id", "tbl", "sig")
    val direct = sigs.toDF("va", "tbl", "sig")
      .join(sigs.toDF("vb", "tbl", "sig"), Seq("tbl", "sig"))
      .filter(col("va") < col("vb"))
      .select("va", "vb").distinct().count()
    assert(rows.last._2 == direct, s"10-bit ${rows.last._2} vs $direct")
  }

  test("m23: the DCT pHash is EXACTLY invariant under uniform " +
      "brightness shifts (rounded AC basis rows sum to zero)") {
    // hand-built 24bpp bottom-up BMP with arbitrary pixels — the
    // fixture encoder only writes its fixed formula, and this theorem
    // needs a +shift twin with no byte wraparound (values ≤ 200)
    def bmp(w: Int, h: Int, px: (Int, Int, Int) => Int): Array[Byte] = {
      val rowSize = ((3 * w + 3) / 4) * 4
      val buf = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54).putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24).putInt(0).putInt(rowSize * h)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- h - 1 to 0 by -1) {
        for (x <- 0 until w; c <- 0 until 3) buf.put(px(x, y, c).toByte)
        for (_ <- 3 * w until rowSize) buf.put(0: Byte)
      }
      buf.array()
    }
    // the rounded u ≥ 1 DCT basis rows genuinely sum to 0 — the whole
    // invariance argument rests on this integer identity
    Multimodal.DctQ.drop(1).foreach(row => assert(row.sum == 0L))
    for ((w, h) <- Seq((11, 9), (16, 16), (24, 13))) {
      val base = (x: Int, y: Int, c: Int) => (x * 7 + y * 11 + c * 31) % 200
      val p0 = Multimodal.decodeBmpPhash(1L, bmp(w, h, base))
      val p7 = Multimodal.decodeBmpPhash(1L,
        bmp(w, h, (x, y, c) => base(x, y, c) + 7))
      assert(p0.phash == p7.phash, s"${w}x$h brightness shift")
      assert(p0.phash != 0L, s"${w}x$h degenerate hash")
    }
  }

  test("t68: fertility slices tile t40's per-doc token counts and " +
      "respect the >= 1 bounds") {
    val t40Total = SparkEntry.queries("t40_bpe_tokenize")(spark, sf0001)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    Scoped.release()
    val rows = SparkEntry.queries("t68_bpe_fertility")(spark, sf0001)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    Scoped.release()
    assert(rows.nonEmpty)
    // the (source, lang) rollup partitions the corpus: group token
    // sums must tile the per-doc relation exactly
    assert(rows.map(_._3).sum == t40Total, "token totals tile")
    rows.foreach { case (nd, nw, nt, fert, cpt) =>
      assert(nd > 0 && nw > 0 && nt > 0)
      // merges act within words only, so every word is >= 1 token;
      // every token carries >= 1 character
      assert(fert >= 1.0, s"fertility $fert")
      assert(cpt >= 1.0, s"chars/token $cpt")
    }
  }
}
