package graft.ops

import graft.{QuerySpec, Spill, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (extension layer): media payloads are
  * opaque `binary` columns + typed metadata, processed by batched
  * per-partition decode. The decode step is a REAL pure-JVM 24-bit
  * BMP codec ([[Multimodal.decodeBmp]]): headers parsed, scanline
  * padding and bottom-up row order honored, BGR channel order
  * unwound — no image library needed, which is exactly why BMP is
  * the honest choice in a zero-egress container. The fixtures carry
  * no media, so payloads are SYNTHESIZED as real BMP files from a
  * deterministic pixel formula ([[Multimodal.encodeBmp]]); the
  * DuckDB oracle recomputes the decoded features from that formula
  * with pure integer arithmetic, so a decoder that mishandles
  * padding (means include pad bytes), channel order (r/b swap), or
  * row direction (corner pixel moves) hash-mismatches.
  *
  * For the remaining queries the `documents.text` bytes stand in for
  * payloads; `encode(text)` → BinaryType exercises the same column
  * machinery the reference's blob path needs (S6/K1 payloads,
  * `sharepoint_to_bronze_delta.py:163-176`).
  */
object Multimodal {

  /** Payload stand-in: utf-8 bytes of the document text. */
  private val payload = encode(col("text"), "UTF-8")

  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Decoded-image features: dimensions from the header, per-channel
    * means over the pixel array, and the top-left pixel (position-
    * sensitive — the means are permutation-invariant, so this is the
    * feature that catches a wrong row direction). */
  final case class BmpFeatures(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      r00: Int,
      g00: Int,
      b00: Int)

  /** [[BmpFeatures]] plus file-listing identity, for the binaryFile
    * source path: the doc id rides the file NAME, not a column. */
  final case class BmpFileFeatures(
      file_name: String,
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      r00: Int,
      g00: Int,
      b00: Int)

  /** One materialized `<doc_id>.bmp` tree per (session, sf dir). */
  private val bmpDirMemo = Spill.tables[String]

  /** The `<doc_id>.bmp` file tree for this (session, sf dir) and
    * documents version, materialized once under the spill root — the
    * stand-in for the object-store prefix a media corpus arrives under
    * (m08 lists it; m15 ingests it). Executors write each file through
    * the Hadoop FileSystem of the spill path, so a non-local
    * `graft.spill.dir` receives them. */
  private def bmpFilesDir(s: SparkSession, d: String): String =
    bmpDirMemo.getOrCompute(s, d, Tables.fingerprint(s, d, "documents"))(
      Spill.table(s, "bmp") { out =>
        import s.implicits._
        val conf = new org.apache.spark.util.SerializableConfiguration(
          s.sessionState.newHadoopConf())
        bmpFixture(s, d).as[MediaRow].foreachPartition {
          (it: Iterator[MediaRow]) =>
            val fs = new Path(out).getFileSystem(conf.value)
            it.foreach { r =>
              val o = fs.create(new Path(out, s"${r.doc_id}.bmp"), true)
              try o.write(r.payload) finally o.close()
            }
        }
      })

  /** One merge-ingested bronze table over [[bmpFilesDir]] per
    * (session, sf dir) and documents version, with per-file `length`
    * stats collected — m15's manifest-driven listing source. */
  private val bronzeMediaMemo = Spill.tables[String]

  private def bronzeMediaTable(s: SparkSession, d: String): String =
    bronzeMediaMemo.getOrCompute(s, d, Tables.fingerprint(s, d, "documents"))(
      Spill.table(s, "bronze-media") { table =>
        graft.ingest.BronzeMerge.mergeIngest(s, bmpFilesDir(s, d), table)
        graft.ingest.BronzeMerge.collectStats(s, table, Seq("length"))
      })

  /** Batched real-BMP decode over (file_name, doc_id, listed length,
    * content) rows — shared by the directory-listing (m08),
    * manifest-driven (m15), and streaming (decodeMediaStream) paths.
    * The length check certifies listing↔content integrity. */
  private[graft] def decodeBmpFileRows(
      rows: org.apache.spark.sql.Dataset[(String, Long, Long, Array[Byte])])
      : DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.mapPartitions { it =>
      it.grouped(64).flatMap(_.map { case (fn, id, len, bs) =>
        require(len == bs.length,
          s"$fn: listed $len bytes, read ${bs.length}")
        val (w, h, mr, mg, mb, r00, g00, b00) = decodeBmp(bs)
        BmpFileFeatures(fn, id, bs.length, w, h,
          mr, mg, mb, r00, g00, b00)
      })
    }.toDF()
  }

  /** The binary-file decode contract m08 and m15 both hash-match:
    * every feature replayed from the pixel formula in integer SQL. */
  private val bmpFileOracle = """WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 13) AS INT) AS w,
               CAST(3 + (n_chars % 7) AS INT) AS h
        FROM documents),
      grid AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, w - 1)) AS x FROM dims) gx),
      agg AS (
        SELECT doc_id, w, h,
          CAST(SUM((doc_id*19 + x*23 + y*29) % 256) AS DOUBLE) / (w*h)
            AS mean_r,
          CAST(SUM((doc_id*11 + x*13 + y*17) % 256) AS DOUBLE) / (w*h)
            AS mean_g,
          CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS DOUBLE) / (w*h)
            AS mean_b
        FROM grid GROUP BY doc_id, w, h)
      SELECT d.doc_id || '.bmp' AS file_name, d.doc_id,
        CAST(54 + ((3*d.w + 3) // 4) * 4 * d.h AS INT) AS n_bytes,
        d.w AS width, d.h AS height,
        a.mean_r, a.mean_g, a.mean_b,
        CAST((d.doc_id*19) % 256 AS INT) AS r00,
        CAST((d.doc_id*11) % 256 AS INT) AS g00,
        CAST((d.doc_id*7) % 256 AS INT) AS b00
      FROM dims d JOIN agg a USING (doc_id)
      ORDER BY doc_id"""

  /** Build a REAL 24-bit uncompressed BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER + padded bottom-up BGR scanlines) whose pixel
    * (x, y) carries channels B/G/R = (docId·7+3x+5y, docId·11+13x+17y,
    * docId·19+23x+29y) mod 256 — a formula an oracle can replay with
    * integer arithmetic. The output opens in any image viewer; this
    * is a generator of true media bytes, not a stand-in. */
  private[graft] def encodeBmp(docId: Long, w: Int, h: Int): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4 // scanlines pad to 4 bytes
    val size = 54 + rowSize * h
    val buf = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(size)      // file size
    buf.putInt(0)         // reserved
    buf.putInt(54)        // pixel-array offset
    buf.putInt(40)        // BITMAPINFOHEADER size
    buf.putInt(w)
    buf.putInt(h)         // positive → bottom-up scanlines
    buf.putShort(1)       // color planes
    buf.putShort(24)      // bits per pixel
    buf.putInt(0)         // BI_RGB, uncompressed
    buf.putInt(rowSize * h)
    buf.putInt(2835).putInt(2835) // 72 DPI
    buf.putInt(0).putInt(0)       // palette: none
    var y = h - 1
    while (y >= 0) { // bottom row first
      var x = 0
      while (x < w) {
        buf.put(((docId * 7 + x * 3 + y * 5) % 256).toByte)   // B
        buf.put(((docId * 11 + x * 13 + y * 17) % 256).toByte) // G
        buf.put(((docId * 19 + x * 23 + y * 29) % 256).toByte) // R
        x += 1
      }
      var p = 3 * w
      while (p < rowSize) { buf.put(0: Byte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Header parse + validation only: (w, h, pixel offset, padded row
    * size, top-down flag) — validates the `BM` magic, little-endian
    * DIB fields, 24bpp/uncompressed contract, and pixel-array bounds.
    * Shared by every BMP decoder in this module. Fails loudly on
    * anything it does not understand — a decoder that guesses is
    * worse than none. */
  private[graft] def bmpLayout(bs: Array[Byte])
      : (Int, Int, Int, Int, Boolean) = {
    def u8(i: Int): Int = bs(i) & 0xff
    def i32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def i16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(bs.length >= 54 && bs(0) == 'B' && bs(1) == 'M',
      "not a BMP payload")
    val off = i32(10)
    require(i32(14) >= 40, s"unsupported DIB header size ${i32(14)}")
    val w = i32(18)
    val hRaw = i32(22)
    val topDown = hRaw < 0 // negative height = top-down pixel order
    val h = math.abs(hRaw)
    require(w > 0 && h > 0, s"degenerate dimensions ${w}x$hRaw")
    require(i16(26) == 1, "color planes must be 1")
    require(i16(28) == 24, s"only 24bpp supported, got ${i16(28)}")
    require(i32(30) == 0, "compressed BMP unsupported")
    val rowSize = ((3 * w + 3) / 4) * 4
    require(bs.length >= off + rowSize * h, "truncated pixel array")
    (w, h, off, rowSize, topDown)
  }

  /** REAL BMP decode, headers to pixels: walks the padded scanlines
    * in image order (honoring the bottom-up convention and the
    * negative-height top-down variant) and reduces the BGR samples
    * to (width, height, mean r/g/b, top-left r/g/b). */
  private[graft] def decodeBmp(bs: Array[Byte])
      : (Int, Int, Double, Double, Double, Int, Int, Int) = {
    def u8(i: Int): Int = bs(i) & 0xff
    val (w, h, off, rowSize, topDown) = bmpLayout(bs)
    var rSum = 0L; var gSum = 0L; var bSum = 0L
    var y = 0
    while (y < h) {
      val base = off + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        bSum += u8(base + 3 * x)
        gSum += u8(base + 3 * x + 1)
        rSum += u8(base + 3 * x + 2)
        x += 1
      }
      y += 1
    }
    val row0 = off + (if (topDown) 0 else (h - 1) * rowSize)
    val n = w.toLong * h
    (w, h, rSum.toDouble / n, gSum.toDouble / n, bSum.toDouble / n,
      u8(row0 + 2), u8(row0 + 1), u8(row0))
  }

  final case class HistRow(doc_id: Long, bin: Int,
      n_r: Long, n_g: Long, n_b: Long)

  final case class DecodeAudit(doc_id: Long, ok: Boolean, n_bytes: Int,
      width: Option[Int], height: Option[Int], mean_r: Option[Double],
      mean_g: Option[Double], mean_b: Option[Double])

  /** 16-bin per-channel histogram of the decoded pixels (bin =
    * value / 16) — all 16 bins emitted per doc, zeros included, so
    * the relation shape is doc-count × 16 regardless of content. */
  private[graft] def decodeBmpHistogram(docId: Long,
      bs: Array[Byte]): Seq[HistRow] = {
    def u8(i: Int): Int = bs(i) & 0xff
    val (w, h, off, rowSize, topDown) = bmpLayout(bs)
    val hr = new Array[Long](16); val hg = new Array[Long](16)
    val hb = new Array[Long](16)
    var y = 0
    while (y < h) {
      val base = off + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        hb(u8(base + 3 * x) / 16) += 1
        hg(u8(base + 3 * x + 1) / 16) += 1
        hr(u8(base + 3 * x + 2) / 16) += 1
        x += 1
      }
      y += 1
    }
    (0 until 16).map(b => HistRow(docId, b, hr(b), hg(b), hb(b)))
  }

  /** Per-image average-hash row: dimensions plus the 64-bit aHash
    * split into four 16-bit bands (b0 = bits 0–15 …) — band ints keep
    * every downstream comparison (LSH band join, Hamming popcount)
    * inside exact 32-bit arithmetic that an oracle replays. */
  final case class AhashRow(
      doc_id: Long, width: Int, height: Int,
      b0: Int, b1: Int, b2: Int, b3: Int)

  /** REAL BMP decode → 64-bit average hash: the perceptual-hash
    * "decode, downsample 8×8, threshold against the mean" pipeline,
    * exact-integer throughout. Pixel (x, y) lands in block
    * (x·8/w, y·8/h) (w, h ≥ 8 so every block is non-empty); block
    * luminance is the raw r+g+b sum (no division anywhere); bit
    * by·8+bx is set iff blockSum·(w·h) > totalSum·blockCount — the
    * cross-multiplied form of "block mean > global mean", exact in
    * 64-bit integers. Header handling matches [[decodeBmp]]. */
  private[graft] def decodeBmpAhash(docId: Long, bs: Array[Byte]): AhashRow = {
    def u8(i: Int): Int = bs(i) & 0xff
    val (w, h, off, rowSize, topDown) = bmpLayout(bs)
    require(w >= 8 && h >= 8, s"aHash needs >=8x8 pixels, got ${w}x$h")
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val base = off + (if (topDown) y else h - 1 - y) * rowSize
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val gray = u8(base + 3 * x) + u8(base + 3 * x + 1) +
          u8(base + 3 * x + 2)
        val blk = by * 8 + (x * 8 / w)
        sums(blk) += gray
        cnts(blk) += 1
        total += gray
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val bands = new Array[Int](4)
    var i = 0
    while (i < 64) {
      if (sums(i) * n > total * cnts(i)) bands(i / 16) |= 1 << (i % 16)
      i += 1
    }
    AhashRow(docId, w, h, bands(0), bands(1), bands(2), bands(3))
  }

  /** Per-doc aHash image dimensions: ≥8 on both axes so the 8×8 block
    * grid has no empty cells (distinct derivation from [[bmpDims]],
    * whose 4×3 minimum is there to exercise padding residues). */
  private def ahashDims(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      (lit(8) + pmod(col("n_chars"), lit(17))).cast("int").as("w"),
      (lit(8) + pmod(col("n_chars") * 3, lit(13))).cast("int").as("h"))

  /** Fixed-point 16-point DCT-II basis, rows u = 0..7: Cq(u)(i) =
    * round(4096 · cos((2i+1)uπ/32)). Evaluated ONCE here (in Scala)
    * and embedded as integer literals in the m23 oracle, so no cos()
    * ever crosses an engine boundary — the whole pHash pipeline is
    * exact integer arithmetic in both engines. Rows u ≥ 1 sum to
    * exactly 0 even after rounding (cosine half-period symmetry
    * survives per-element rounding), which makes the hash EXACTLY
    * invariant under uniform brightness shifts — OpsSpec pins that
    * as a theorem test, not a tolerance test. */
  private[graft] val DctQ: Array[Array[Long]] =
    Array.tabulate(8, 16)((u, i) =>
      Math.round(4096.0 * math.cos((2 * i + 1) * u * math.Pi / 32)))

  final case class PhashRow(doc_id: Long, width: Int, height: Int,
      phash: Long)

  /** REAL BMP decode → 64-bit perceptual hash (pHash, DCT flavor):
    * decode pixels, nearest-neighbor resample to 16×16 gray (gray =
    * r+g+b, no division), separable fixed-point [[DctQ]] transform to
    * the 8×8 low-frequency block, threshold each AC coefficient
    * against the median AC coefficient (the 32nd smallest of the 63 —
    * exact integer selection), bit k−1 set iff coef k > median (DC
    * carries no bit, so the hash is a non-negative 63-bit BIGINT —
    * the t10 sign-bit discipline). Magnitudes stay well inside Long:
    * |tmp| ≤ 16·4096·765 ≈ 5·10⁷, |coef| ≤ 16·4096·|tmp| ≈ 3.3·10¹². */
  private[graft] def decodeBmpPhash(docId: Long, bs: Array[Byte]): PhashRow = {
    def u8(i: Int): Int = bs(i) & 0xff
    val (w, h, off, rowSize, topDown) = bmpLayout(bs)
    // gray plane in image (top-down) row order
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val base = off + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        gray(y * w + x) = u8(base + 3 * x) + u8(base + 3 * x + 1) +
          u8(base + 3 * x + 2)
        x += 1
      }
      y += 1
    }
    // nearest-neighbor 16×16 resample: source (i·w/16, j·h/16)
    val g16 = Array.tabulate(16, 16)((j, i) => gray((j * h / 16) * w + i * w / 16).toLong)
    // separable DCT: rows first (over x), then columns (over y)
    val tmp = Array.tabulate(8, 16) { (u, j) =>
      var acc = 0L; var i = 0
      while (i < 16) { acc += DctQ(u)(i) * g16(j)(i); i += 1 }
      acc
    }
    val coef = Array.tabulate(8, 8) { (u, v) =>
      var acc = 0L; var j = 0
      while (j < 16) { acc += DctQ(v)(j) * tmp(u)(j); j += 1 }
      acc
    }
    val ac = new Array[Long](63)
    var k = 1
    while (k < 64) { ac(k - 1) = coef(k / 8)(k % 8); k += 1 }
    val med = ac.sorted.apply(31) // 32nd smallest of 63
    var hash = 0L
    k = 1
    while (k < 64) {
      if (coef(k / 8)(k % 8) > med) hash |= 1L << (k - 1)
      k += 1
    }
    PhashRow(docId, w, h, hash)
  }

  /** Resized-image features: the source dimensions from the header
    * plus the feature row of the nearest-neighbor downsample — the
    * thumbnail step of a vision pipeline, with the top-left pixel as
    * the row-direction sentinel exactly like [[BmpFeatures]]. */
  final case class ResizedFeatures(
      doc_id: Long,
      src_w: Int,
      src_h: Int,
      width: Int,
      height: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      r00: Int,
      g00: Int,
      b00: Int)

  /** REAL BMP decode → nearest-neighbor RESIZE to `tw`×`th` →
    * features of the resampled image. Source pixel for target
    * (x', y') is (x'·w/tw, y'·h/th) (floor — the standard NN index
    * map; upsampling duplicates pixels, downsampling drops them), so
    * the whole path is exact integer arithmetic an oracle replays.
    * Header handling matches [[decodeBmp]]. */
  private[graft] def decodeBmpResize(docId: Long, bs: Array[Byte],
      tw: Int, th: Int): ResizedFeatures = {
    def u8(i: Int): Int = bs(i) & 0xff
    require(tw > 0 && th > 0, s"degenerate target ${tw}x$th")
    val (w, h, off, rowSize, topDown) = bmpLayout(bs)
    var rSum = 0L; var gSum = 0L; var bSum = 0L
    var r00 = 0; var g00 = 0; var b00 = 0
    var ty = 0
    while (ty < th) {
      val sy = ty * h / th // image-order row (0 = top)
      val base = off + (if (topDown) sy else h - 1 - sy) * rowSize
      var tx = 0
      while (tx < tw) {
        val sx = tx * w / tw
        val b = u8(base + 3 * sx)
        val g = u8(base + 3 * sx + 1)
        val r = u8(base + 3 * sx + 2)
        if (tx == 0 && ty == 0) { r00 = r; g00 = g; b00 = b }
        rSum += r; gSum += g; bSum += b
        tx += 1
      }
      ty += 1
    }
    val n = tw.toLong * th
    ResizedFeatures(docId, w, h, tw, th,
      rSum.toDouble / n, gSum.toDouble / n, bSum.toDouble / n,
      r00, g00, b00)
  }

  /** Shared oracle CTE prefix for m09/m10: replay the pixel formula →
    * aHash bits → band ints in pure integer SQL, ending in
    * `wide(doc_id, b0..b3)`. One constant so the two oracles cannot
    * silently diverge (the sessionizedSql pattern from Events). */
  private val ahashWideCtes = """dims AS (
        SELECT doc_id, CAST(8 + n_chars % 17 AS BIGINT) AS w,
               CAST(8 + (n_chars * 3) % 13 AS BIGINT) AS h
        FROM documents),
      grid AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, w - 1)) AS x FROM dims) g),
      px AS (
        SELECT doc_id, w, h,
          (doc_id*19 + x*23 + y*29) % 256 + (doc_id*11 + x*13 + y*17) % 256
            + (doc_id*7 + x*3 + y*5) % 256 AS gray,
          (y * 8) // h AS by, (x * 8) // w AS bx
        FROM grid),
      blocks AS (
        SELECT doc_id, w, h, by, bx, SUM(gray) AS bs, COUNT(*) AS bc
        FROM px GROUP BY doc_id, w, h, by, bx),
      tot AS (
        SELECT doc_id, SUM(bs) AS tsum, w * h AS n
        FROM blocks GROUP BY doc_id, w, h),
      bits AS (
        SELECT b.doc_id, by * 8 + bx AS idx,
          CASE WHEN bs * n > tsum * bc THEN 1 ELSE 0 END AS bit
        FROM blocks b JOIN tot t ON b.doc_id = t.doc_id),
      bands AS (
        SELECT doc_id, idx // 16 AS band,
          CAST(SUM(bit * (1 << (idx % 16))) AS INT) AS val
        FROM bits GROUP BY doc_id, band),
      wide AS (
        SELECT doc_id,
          MAX(CASE WHEN band = 0 THEN val END) AS b0,
          MAX(CASE WHEN band = 1 THEN val END) AS b1,
          MAX(CASE WHEN band = 2 THEN val END) AS b2,
          MAX(CASE WHEN band = 3 THEN val END) AS b3
        FROM bands GROUP BY doc_id)"""

  /** Near-duplicate image pairs `(doc_a, doc_b, hamming)` with
    * Hamming ≤ `maxHam`, banded-candidate form (see m09's spec notes;
    * `maxHam ≤ 3` makes banding LOSSLESS by pigeonhole, so that
    * threshold yields the exact brute-force relation). Shared by m09
    * (the pair report) and m10 (the clustering decision). */
  private val ahashLabelsMemo = Spill.relations[String]

  /** Session-memoized aHash dup-cluster labels `(doc_id, lbl)` at the
    * lossless Hamming ≤ 3 threshold: m10 (the grouping decision) and
    * m21 (the caption-reuse audit) consume the IDENTICAL label
    * relation, so they share one decode + band join + connected-
    * components run per (session, dir) — the [[graft.ops.Text]]
    * `dupLabelsMemo` convention. Parquet-spilled ([[graft.Spill]])
    * — executor-loss-proof and invalidate-and-recompute on a swept
    * spill, eager at compute so the memo outlives its query-scoped
    * inputs. */
  private def ahashLabels(s: SparkSession, d: String): DataFrame =
    ahashLabelsMemo.getOrCompute(s, d, Tables.fingerprint(s, d, "documents"))(
      Spill.write(Text.connectedComponents(
        ahashPairs(s, d, maxHam = 3).select(
          col("doc_a").as("da"), col("doc_b").as("db")))))._2

  private def ahashPairs(s: SparkSession, d: String, maxHam: Int): DataFrame = {
    import s.implicits._
    val hashes = ahashDims(s, d).as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.grouped(64).flatMap(_.map { case (id, w, h) =>
          decodeBmpAhash(id, encodeBmp(id, w, h))
        })
      }.toDF()
    val bands = graft.Scoped.persist(
      hashes.select(col("doc_id"), col("b0"), col("b1"),
        col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
        .toDF("doc_id", "b0", "b1", "b2", "b3", "band", "v"))
    val a = bands.select(col("doc_id").as("doc_a"),
      col("b0").as("ab0"), col("b1").as("ab1"),
      col("b2").as("ab2"), col("b3").as("ab3"),
      col("band"), col("v"))
    val b = bands.select(col("doc_id").as("doc_b"),
      col("b0").as("bb0"), col("b1").as("bb1"),
      col("b2").as("bb2"), col("b3").as("bb3"),
      col("band"), col("v"))
    a.join(b, Seq("band", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr(
        "int(bit_count(ab0 ^ bb0) + bit_count(ab1 ^ bb1) + " +
          "bit_count(ab2 ^ bb2) + bit_count(ab3 ^ bb3))"))
      .filter(col("hamming") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Decoded-audio features: format fields from the chunk headers,
    * per-channel sample means (interleave-sensitive via ch0/ch1
    * separation), the first channel-0 sample (position-sensitive),
    * and the peak absolute amplitude. `mean_ch1` is None for mono. */
  final case class WavFeatures(
      doc_id: Long,
      n_bytes: Int,
      sample_rate: Int,
      n_channels: Int,
      n_frames: Int,
      duration_sec: Double,
      mean_ch0: Double,
      mean_ch1: Option[Double],
      s0_ch0: Int,
      peak: Int)

  /** One pitch estimate per doc: the lag in [minLag, maxLag] whose
    * normalized autocorrelation over channel 0 is maximal, plus the
    * raw NAC value (rounded only at the query's output edge). */
  final case class PitchRow(
      doc_id: Long,
      sample_rate: Int,
      n_frames: Int,
      best_lag: Int,
      nac: Double)

  /** The m20 tone generator: same RIFF/PCM envelope as [[encodeWav]]
    * (fmt, a LIST chunk forcing a true chunk walk, data) but the mono
    * sample formula repeats EXACTLY every `period` frames:
    * s_i = ((docId·31 + (i mod period)·97) mod 65536) − 32768. With
    * 97·period < 65536 the residues (i mod period)·97 are distinct
    * within one period, so `period` is the signal's FUNDAMENTAL —
    * there is no smaller period for a detector to find. */
  private[graft] def encodeWavTone(docId: Long, rate: Int, nf: Int,
      period: Int): Array[Byte] = {
    val dataSize = nf * 2
    val total = 12 + 24 + (8 + 4) + 8 + dataSize
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                    // PCM
      .putShort(1)                    // mono
      .putInt(rate)
      .putInt(rate * 2)               // byte rate
      .putShort(2)                    // block align
      .putShort(16)                   // bits per sample
    buf.put("LIST".getBytes("US-ASCII")).putInt(4)
      .put("INFO".getBytes("US-ASCII"))
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nf) {
      buf.putShort(
        (((docId * 31 + (i % period) * 97) % 65536) - 32768).toShort)
      i += 1
    }
    buf.array()
  }

  /** Normalized autocorrelation pitch over channel 0, computed INSIDE
    * the per-doc decode (samples never leave the task): for each lag
    * L, NAC(L) = Σ s_i·s_{i+L} / √(Σ s_i² · Σ s_{i+L}²) over the
    * overlap window — all three sums exact in Long (32 768² × nf ≪
    * 2⁶³), the double cast/multiply/√/divide sequence identical in
    * both engines. Argmax prefers the SMALLER lag on exact ties, the
    * fundamental-over-octave convention. */
  private[graft] def decodeWavPitch(docId: Long, bs: Array[Byte],
      minLag: Int, maxLag: Int): PitchRow = {
    val (rate, nch, dataOff, nFrames) = wavLayout(bs)
    def i16(i: Int): Int =
      ((bs(i) & 0xff) | ((bs(i + 1) & 0xff) << 8)).toShort.toInt
    def ch0(f: Int): Int = i16(dataOff + f * nch * 2)
    require(nFrames > maxLag, s"too few frames ($nFrames) for lag $maxLag")
    var bestLag = -1
    var bestNac = Double.NegativeInfinity
    var lag = minLag
    while (lag <= maxLag) {
      var num = 0L; var d0 = 0L; var d1 = 0L
      var i = 0
      val n = nFrames - lag
      while (i < n) {
        val a = ch0(i); val b = ch0(i + lag)
        num += a.toLong * b
        d0 += a.toLong * a
        d1 += b.toLong * b
        i += 1
      }
      val nac = num.toDouble / math.sqrt(d0.toDouble * d1.toDouble)
      if (nac > bestNac) { bestNac = nac; bestLag = lag }
      lag += 1
    }
    PitchRow(docId, rate, nFrames, bestLag, bestNac)
  }

  /** Per-doc tone parameters: rate on the m07 grid, ≥150 frames (≥3
    * full periods + every lag's overlap window), fundamental period
    * 20–39 so the search range [16, 39] contains exactly ONE multiple
    * of the period — no octave alias for argmax to tie on. */
  private def toneDims(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("n_chars"), lit(3)) === 0, 8000)
        .when(pmod(col("n_chars"), lit(3)) === 1, 16000)
        .otherwise(44100).cast("int").as("rate"),
      (lit(150) + pmod(col("n_chars"), lit(100))).cast("int").as("nf"),
      (lit(20) + pmod(col("n_chars"), lit(20))).cast("int").as("period"))

  /** Generated periodic-tone WAV fixture: (doc_id, payload). */
  private[graft] def wavToneFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    toneDims(s, d).as[(Long, Int, Int, Int)]
      .map { case (id, rate, nf, p) =>
        MediaRow(id, encodeWavTone(id, rate, nf, p)) }
      .toDF()
  }

  /** Build a REAL RIFF/WAVE file (canonical 16-bit PCM): "RIFF" size
    * "WAVE", a 16-byte "fmt " chunk, an INFO "LIST" chunk (so decoders
    * must genuinely WALK chunks rather than assume data at offset 36),
    * then "data" with interleaved little-endian int16 frames. Sample
    * (frame i, channel c) = ((docId·31 + 7i + 13c) mod 65536) − 32768 —
    * integer arithmetic an oracle replays exactly. Plays in any audio
    * player; a generator of true media bytes, not a stand-in. */
  private[graft] def encodeWav(docId: Long, rate: Int, nch: Int,
      nFrames: Int, listSize: Int): Array[Byte] = {
    val dataSize = nFrames * nch * 2
    val total = 12 + 24 + (8 + listSize) + 8 + dataSize
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                    // PCM
      .putShort(nch.toShort)
      .putInt(rate)
      .putInt(rate * nch * 2)         // byte rate
      .putShort((nch * 2).toShort)    // block align
      .putShort(16)                   // bits per sample
    buf.put("LIST".getBytes("US-ASCII")).putInt(listSize)
      .put("INFO".getBytes("US-ASCII"))
    var p = 4
    while (p < listSize) { buf.put(0: Byte); p += 1 }
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < nch) {
        buf.putShort((((docId * 31 + i * 7 + c * 13) % 65536) - 32768)
          .toShort)
        c += 1
      }
      i += 1
    }
    buf.array()
  }

  /** REAL WAV decode, chunks to samples: validates RIFF/WAVE magic,
    * walks subchunks (odd sizes pad to word boundaries per the RIFF
    * spec), parses "fmt " (PCM, 16-bit only, cross-checked byte rate
    * and block align), skips everything else, and reduces the "data"
    * frames to per-channel means, first sample, and peak amplitude.
    * Fails loudly on anything it does not understand. */
  /** Chunk walk + validation only: (rate, nch, dataOff, nFrames).
    * Shared by the feature decode and the frame analyzer. */
  private[graft] def wavLayout(bs: Array[Byte]): (Int, Int, Int, Int) = {
    def u8(i: Int): Int = bs(i) & 0xff
    def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def i32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int): String =
      new String(bs, i, 4, "US-ASCII")
    require(bs.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE payload")
    require(i32(4) == bs.length - 8,
      s"RIFF size ${i32(4)} != ${bs.length - 8}")
    var off = 12
    var rate = -1; var nch = -1
    var dataOff = -1; var dataSize = -1
    while (off + 8 <= bs.length && dataOff < 0) {
      val id = tag(off); val size = i32(off + 4)
      require(size >= 0 && off + 8 + size <= bs.length,
        s"truncated '$id' chunk")
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small: $size")
          require(u16(off + 8) == 1, "only PCM supported")
          nch = u16(off + 10)
          rate = i32(off + 12)
          require(nch > 0 && rate > 0, s"degenerate fmt ${nch}ch@$rate")
          require(u16(off + 22) == 16, "only 16-bit samples supported")
          require(i32(off + 16) == rate * nch * 2, "byte rate mismatch")
          require(u16(off + 20) == nch * 2, "block align mismatch")
        case "data" => dataOff = off + 8; dataSize = size
        case _ => () // LIST/fact/cue…: skip
      }
      off += 8 + size + (size & 1) // RIFF chunks pad to even offsets
    }
    require(rate > 0, "no fmt chunk before data")
    require(dataOff >= 0, "no data chunk")
    require(dataSize % (nch * 2) == 0, "data not a whole frame multiple")
    val nFrames = dataSize / (nch * 2)
    require(nFrames > 0, "empty data chunk")
    (rate, nch, dataOff, nFrames)
  }

  private[graft] def decodeWav(bs: Array[Byte])
      : (Int, Int, Int, Double, Option[Double], Int, Int) = {
    val (rate, nch, dataOff, nFrames) = wavLayout(bs)
    def i16(i: Int): Int =
      ((bs(i) & 0xff) | ((bs(i + 1) & 0xff) << 8)).toShort.toInt
    var sum0 = 0L; var sum1 = 0L; var peak = 0
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < nch) {
        val v = i16(dataOff + (i * nch + c) * 2)
        if (c == 0) sum0 += v else if (c == 1) sum1 += v
        if (math.abs(v) > peak) peak = math.abs(v)
        c += 1
      }
      i += 1
    }
    (rate, nch, nFrames, sum0.toDouble / nFrames,
      if (nch >= 2) Some(sum1.toDouble / nFrames) else None,
      i16(dataOff), peak)
  }

  final case class AudioFrame(doc_id: Long, frame_id: Int, start: Int,
      n_samples: Int, energy: Long, n_zero_cross: Int, max_abs: Int)

  /** m16 voiced-frame gate: frame energy ≥ 25·16384² — mean sample
    * amplitude at least half of int16 full scale. Exact in Long. */
  private val VadEnergyThreshold: Long = 25L * 16384L * 16384L

  /** Frame-level analysis of channel 0: fixed-length windows over the
    * decoded PCM, per-frame energy (Σv², exact in Long: 32 768² ×
    * frameLen ≪ 2⁶³), zero crossings (sign changes between
    * consecutive samples; 0 counts as non-negative), and peak.
    * Partial tail frames are dropped — a frame either has frameLen
    * samples or is not emitted. */
  private[graft] def decodeWavFrames(docId: Long, bs: Array[Byte],
      frameLen: Int): Seq[AudioFrame] = {
    val (_, nch, dataOff, nFrames) = wavLayout(bs)
    def i16(i: Int): Int =
      ((bs(i) & 0xff) | ((bs(i + 1) & 0xff) << 8)).toShort.toInt
    def ch0(frame: Int): Int = i16(dataOff + frame * nch * 2)
    (0 until nFrames / frameLen).map { f =>
      var e = 0L; var zc = 0; var ma = 0; var prev = 0
      var j = 0
      while (j < frameLen) {
        val v = ch0(f * frameLen + j)
        e += v.toLong * v
        if (math.abs(v) > ma) ma = math.abs(v)
        if (j > 0 && ((prev < 0) != (v < 0))) zc += 1
        prev = v
        j += 1
      }
      AudioFrame(docId, f, f * frameLen, frameLen, e, zc, ma)
    }
  }

  /** Per-doc audio parameters, derived from metadata (the bmpDims
    * trick): rates across the common telephony/speech/CD set, mono and
    * stereo both exercised, frame counts varied mod a prime. */
  private def wavDims(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("n_chars"), lit(3)) === 0, 8000)
        .when(pmod(col("n_chars"), lit(3)) === 1, 16000)
        .otherwise(44100).cast("int").as("rate"),
      (lit(1) + pmod(col("n_chars"), lit(2))).cast("int").as("nch"),
      (lit(50) + pmod(col("n_chars"), lit(211))).cast("int").as("nf"),
      (lit(4) + lit(2) * pmod(col("n_chars"), lit(3))).cast("int")
        .as("lsize"))

  // ======================================================================
  // Raw video: a minimal planar format ("GVID" header + per-frame
  // grayscale planes), because no real container/codec library exists
  // in a zero-egress container — but the BYTES are real: the decoder
  // validates magic and length and walks frame planes, so a framing
  // or plane-order slip corrupts every downstream feature.
  // ======================================================================

  /** One decoded video frame: exact-integer intensity sum and the sum
    * of absolute pixel differences (SAD) against the PREVIOUS frame —
    * the classic shot-boundary statistic. `sad_prev` is None for
    * frame 0 (no predecessor). Both exact in Long: ≤ 255·w·h·nf. */
  final case class VideoFrameRow(doc_id: Long, frame_id: Int, n_px: Int,
      intensity: Long, sad_prev: Option[Long])

  /** Encode a raw GVID payload: magic + LE int32 (w, h, nf, sceneLen)
    * + nf frames of w×h grayscale bytes (row-major, y outer). Pixel
    * formula carries a SCENE term — frames inside scene s = f/sceneLen
    * share a base image, plus a small per-frame jitter (f mod 5), so
    * within-scene SAD ≤ 4·w·h while cross-scene SAD ≥ 97·w·h (base
    * steps by 101 mod 251 per scene: per-pixel |Δ| ∈ {101, 150} ∓ 4).
    * The detector threshold 50·w·h splits the two bands exactly. */
  private[graft] def encodeVideo(docId: Long, w: Int, h: Int,
      nf: Int, sceneLen: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(20 + nf * w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GVID".getBytes("US-ASCII"))
      .putInt(w).putInt(h).putInt(nf).putInt(sceneLen)
    var f = 0
    while (f < nf) {
      val scene = f / sceneLen
      val jitter = f % 5
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = (docId * 19 + scene * 101 + x * 23 + y * 29) % 251
          buf.put((base + jitter).toByte)
          x += 1
        }
        y += 1
      }
      f += 1
    }
    buf.array()
  }

  /** REAL GVID decode: validates magic, dims, and exact payload
    * length, then walks frame planes computing per-frame intensity
    * (Σv, exact Long) and SAD against the previous plane. Fails
    * loudly on anything it does not understand — same contract as
    * [[wavLayout]]/[[decodeBmp]]. */
  private[graft] def decodeVideoFrames(docId: Long,
      bs: Array[Byte]): Seq[VideoFrameRow] = {
    def u8(i: Int): Int = bs(i) & 0xff
    def i32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(bs.length >= 20 &&
      new String(bs, 0, 4, "US-ASCII") == "GVID", "not a GVID payload")
    val w = i32(4); val h = i32(8); val nf = i32(12); val sl = i32(16)
    require(w > 0 && h > 0 && nf > 0 && sl > 0,
      s"degenerate GVID dims ${w}x${h}x$nf/sl=$sl")
    val nPx = w * h
    require(bs.length == 20 + nf.toLong * nPx,
      s"GVID length ${bs.length} != ${20 + nf.toLong * nPx}")
    (0 until nf).map { f =>
      val off = 20 + f * nPx
      var sum = 0L; var sad = 0L
      var i = 0
      while (i < nPx) {
        val v = u8(off + i)
        sum += v
        if (f > 0) sad += math.abs(v - u8(off - nPx + i))
        i += 1
      }
      VideoFrameRow(docId, f, nPx, sum, if (f > 0) Some(sad) else None)
    }
  }

  final case class MotionTile(doc_id: Long, frame_id: Int, q: Int,
      n_px_q: Int, sad: Long)

  /** Per-QUADRANT SAD between consecutive frames — m17's shot
    * statistic at region granularity (the static-region signal:
    * subtitle/watermark areas stay flat while the scene moves).
    * Quadrant q = (y ≥ ⌈h/2⌉)·2 + (x ≥ ⌈w/2⌉); same validate-then-
    * walk decode as [[decodeVideoFrames]], emitted for f ≥ 1. */
  private[graft] def decodeVideoMotion(docId: Long,
      bs: Array[Byte]): Seq[MotionTile] = {
    def u8(i: Int): Int = bs(i) & 0xff
    def i32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(bs.length >= 20 &&
      new String(bs, 0, 4, "US-ASCII") == "GVID", "not a GVID payload")
    val w = i32(4); val h = i32(8); val nf = i32(12)
    require(w > 0 && h > 0 && nf > 0, "degenerate GVID dims")
    val nPx = w * h
    require(bs.length == 20 + nf.toLong * nPx, "GVID length mismatch")
    val xHalf = (w + 1) / 2
    val yHalf = (h + 1) / 2
    val nq = Array(
      xHalf * yHalf, (w - xHalf) * yHalf,
      xHalf * (h - yHalf), (w - xHalf) * (h - yHalf))
    (1 until nf).flatMap { f =>
      val off = 20 + f * nPx
      val sad = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = y * w + x
          val q = (if (y >= yHalf) 2 else 0) + (if (x >= xHalf) 1 else 0)
          sad(q) += math.abs(u8(off + i) - u8(off - nPx + i))
          x += 1
        }
        y += 1
      }
      (0 until 4).filter(nq(_) > 0)
        .map(q => MotionTile(docId, f, q, nq(q), sad(q)))
    }
  }

  /** Per-doc video parameters from metadata (the bmpDims trick):
    * small frames, clip lengths 20–50, scene lengths 3–8 — every doc
    * gets multiple scenes and at least one within-scene jitter wrap. */
  private def videoDims(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      (lit(4) + pmod(col("n_chars"), lit(5))).cast("int").as("w"),
      (lit(3) + pmod(col("n_chars"), lit(3))).cast("int").as("h"),
      (lit(20) + pmod(col("n_chars"), lit(31))).cast("int").as("nf"),
      (lit(3) + pmod(col("n_chars"), lit(6))).cast("int").as("sl"))

  /** Generated raw-video fixture column: (doc_id, payload binary)
    * with real GVID bytes — the video twin of [[wavFixture]]. */
  private[graft] def videoFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoDims(s, d).as[(Long, Int, Int, Int, Int)]
      .map { case (id, w, h, nf, sl) =>
        MediaRow(id, encodeVideo(id, w, h, nf, sl)) }
      .toDF()
  }

  /** Voiced audio segments (m16's relation): one row per maximal
    * ≥2-frame voiced run — (doc_id, seg_id, start_frame, end_frame,
    * n_frames, energy, peak) — plus `na` = the doc's TOTAL analysis-
    * frame count (the normalized-time denominator m18 aligns on; it
    * rides the same doc-partitioned exchange as the island pass). */
  private[graft] def audioSegments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = wavFixture(s, d).as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(64).flatMap(_.flatMap(r =>
          decodeWavFrames(r.doc_id, r.payload, 25)))
      }.toDF()
    val wAll = Window.partitionBy(col("doc_id"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))
    frames
      .withColumn("na", (max(col("frame_id")).over(wAll) + 1).cast("int"))
      .filter(col("energy") >= VadEnergyThreshold)
      .withColumn("grp", col("frame_id") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_id")).as("start_frame"),
        max(col("frame_id")).as("end_frame"),
        count(lit(1)).cast("int").as("n_frames"),
        sum(col("energy")).as("energy"),
        max(col("max_abs")).as("peak"),
        max(col("na")).as("na"))
      .filter(col("n_frames") >= 2)
      .withColumn("seg_id", row_number().over(wSeg))
  }

  /** Video shots (m17's relation): one row per detected shot —
    * (doc_id, shot_id, start_frame, end_frame, n_frames, intensity,
    * n_px) — plus `nv` = the doc's total frame count (m18's
    * denominator). Same single doc-partitioned exchange. */
  private[graft] def videoShots(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = videoFixture(s, d).as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(64).flatMap(_.flatMap(r =>
          decodeVideoFrames(r.doc_id, r.payload)))
      }.toDF()
    val wAll = Window.partitionBy(col("doc_id"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_id"))
    frames
      .withColumn("nv", (max(col("frame_id")).over(wAll) + 1).cast("int"))
      .withColumn("cut",
        when(col("frame_id") === 0 ||
          col("sad_prev") >= lit(50L) * col("n_px"), 1).otherwise(0))
      .withColumn("shot_id", sum(col("cut")).over(wDoc).cast("int"))
      .groupBy(col("doc_id"), col("shot_id"))
      .agg(min(col("frame_id")).as("start_frame"),
        max(col("frame_id")).as("end_frame"),
        count(lit(1)).cast("int").as("n_frames"),
        sum(col("intensity")).as("intensity"),
        max(col("n_px")).as("n_px"),
        max(col("nv")).as("nv"))
  }

  /** Generated WAV fixture column: (doc_id, payload binary) with real
    * RIFF/PCM bytes — the audio twin of [[bmpFixture]]. */
  private[graft] def wavFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wavDims(s, d).as[(Long, Int, Int, Int, Int)]
      .map { case (id, rate, nch, nf, lsize) =>
        MediaRow(id, encodeWav(id, rate, nch, nf, lsize)) }
      .toDF()
  }

  final case class ResampleRow(doc_id: Long, src_rate: Int,
      n_frames: Int, n_out: Long, out0: Int, mean_out: Double,
      peak_out: Double)

  /** Linear-interpolation resample of channel 0 to `dst` Hz, reduced
    * to per-doc stats inside the decode. Output j sits at source
    * offset j·src/dst: idx = ⌊j·src/dst⌋, rem = (j·src) mod dst, and
    * the sample value is (v[idx]·(dst−rem) + v[idx+1]·rem) / dst.
    * The NUMERATOR is exact in Long (|v|·dst ≤ 32768·8000, ×n_out ≪
    * 2⁶³ summed), so mean and peak are single exact divisions — the
    * m07 parity discipline applied to a resampler. rem > 0 implies
    * idx + 1 ≤ nFrames − 1 (j is capped at (nf−1)·dst/src), so the
    * interpolant never reads past the clip. */
  private[graft] def decodeWavResample(docId: Long, bs: Array[Byte],
      dst: Int = 8000): ResampleRow = {
    val (rate, nch, dataOff, nFrames) = wavLayout(bs)
    def i16(i: Int): Int =
      ((bs(i) & 0xff) | ((bs(i + 1) & 0xff) << 8)).toShort.toInt
    def ch0(f: Int): Int = i16(dataOff + f * nch * 2)
    val nOut = ((nFrames - 1).toLong * dst / rate).toInt + 1
    var sumNum = 0L
    var peakNum = 0L
    var j = 0
    while (j < nOut) {
      val num = j.toLong * rate
      val idx = (num / dst).toInt
      val rem = (num % dst).toInt
      val a = ch0(idx).toLong
      val n =
        if (rem == 0) a * dst
        else a * (dst - rem) + ch0(idx + 1).toLong * rem
      sumNum += n
      val an = math.abs(n)
      if (an > peakNum) peakNum = an
      j += 1
    }
    ResampleRow(docId, rate, nFrames, nOut.toLong, ch0(0),
      sumNum.toDouble / (dst.toDouble * nOut),
      peakNum.toDouble / dst)
  }

  /** Batched per-partition resample of a binary WAV column → per-doc
    * stats; same vectorized-decode loop shape as
    * [[decodeWavFeatures]]. */
  def resampleWavFeatures(spark: SparkSession, media: DataFrame,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map(r => decodeWavResample(r.doc_id, r.payload))
        }
      }.toDF()
  }

  /** Batched per-partition decode of a binary WAV column → features;
    * same vectorized-decode loop shape as [[decodeBmpFeatures]]. */
  def decodeWavFeatures(spark: SparkSession, media: DataFrame,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (rate, nch, nf, m0, m1, s0, pk) = decodeWav(r.payload)
            WavFeatures(r.doc_id, r.payload.length, rate, nch, nf,
              nf.toDouble / rate, m0, m1, s0, pk)
          }
        }
      }.toDF()
  }

  /** The per-doc image dimensions, derived from metadata (same trick
    * as m05's tile grid): small enough that 500 docs × ≤16×9 pixels
    * synthesize in microseconds, varied enough to exercise every
    * padding residue (w mod 4 ∈ {0,1,2,3}). */
  private def bmpDims(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      (lit(4) + pmod(col("n_chars"), lit(13))).cast("int").as("w"),
      (lit(3) + pmod(col("n_chars"), lit(7))).cast("int").as("h"))

  /** Generated BMP fixture column: (doc_id, payload binary) with real
    * BMP bytes. Kept separate from [[decodeBmpFeatures]] so the
    * decode consumes an opaque binary COLUMN, exactly the shape a
    * real media table has. */
  private[graft] def bmpFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bmpDims(s, d).as[(Long, Int, Int)]
      .map { case (id, w, h) => MediaRow(id, encodeBmp(id, w, h)) }
      .toDF()
  }

  /** Batched per-partition decode of a binary BMP column → features.
    * The mapPartitions + grouped-batch shape is the vectorized-decode
    * loop a JNI codec would slot into; the codec itself is
    * [[decodeBmp]] — real, not a stub. */
  def decodeBmpFeatures(spark: SparkSession, media: DataFrame,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (w, h, mr, mg, mb, r00, g00, b00) = decodeBmp(r.payload)
            BmpFeatures(r.doc_id, r.payload.length, w, h,
              mr, mg, mb, r00, g00, b00)
          }
        }
      }.toDF()
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- binary metadata: sizes + content hashes ----
    QuerySpec(
      "m01_binary_meta",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            octet_length(payload).as("n_bytes"),
            sha2(payload, 256).as("sha256"),
            md5(payload).as("md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        sha256(text) AS sha256, md5(text) AS md5
      FROM documents ORDER BY doc_id""")),

    // ---- fixed-size chunking (frame-sampling shape): 256-byte
    //      chunks, per-chunk hash — ASCII text so byte and char
    //      offsets coincide for the oracle ----
    QuerySpec(
      "m02_chunking",
      (s, d) => {
        // pl materialized BEFORE the lambda: the HOF body re-evaluates
        // per chunk, and that would re-encode the payload each time
        // (the t43/NgramHashes lesson applied to binary columns)
        val pl = col("pl")
        val nChunks = ceil(octet_length(pl) / lit(256.0)).cast("int")
        // guard nChunks=0: sequence(0, -1) counts DOWN ([0,-1]) instead
        // of yielding an empty list — an empty payload must chunk to
        // zero rows, like the oracle's generate_series(1, 0)
        val idx = when(nChunks > 0, sequence(lit(0), nChunks - 1))
          .otherwise(array().cast("array<int>"))
        Tables.documents(s, d)
          .select(col("doc_id"), payload.as("pl"))
          .select(col("doc_id"),
            posexplode(transform(idx,
              i => substring(pl, i * 256 + 1, lit(256)))))
          .select(col("doc_id"), col("pos").as("chunk_idx"),
            octet_length(col("col")).as("chunk_bytes"),
            md5(col("col")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
        CAST(octet_length(encode(substr(text,
          CAST((i - 1) * 256 + 1 AS INT), 256))) AS INT) AS chunk_bytes,
        md5(substr(text, CAST((i - 1) * 256 + 1 AS INT), 256)) AS chunk_md5
      FROM (SELECT doc_id, text, unnest(generate_series(1,
              CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS i
            FROM documents) t
      ORDER BY doc_id, chunk_idx""")),

    // ---- frame sampling (video-style temporal downsample): treat the
    //      payload as 64-byte "frames", keep a uniform-stride sample of
    //      at most 8 frames per clip — the budget-bounded selection a
    //      video pipeline runs before decoding anything. All integer
    //      arithmetic (stride = ceil(frames/8), stepped sequence), so
    //      the oracle recomputes it exactly; per-frame decode would
    //      slot into m03's batched stub downstream ----
    QuerySpec(
      "m04_frame_sample",
      (s, d) => {
        val frameSz = 64
        val maxFrames = 8
        // pl presplit before the lambda — same rationale as m02
        val pl = col("pl")
        val nFrames = ceil(octet_length(pl) / lit(frameSz.toDouble))
          .cast("int")
        val stride = greatest(
          ceil(nFrames / lit(maxFrames.toDouble)).cast("int"), lit(1))
        val idx = when(nFrames > 0,
          sequence(lit(0), nFrames - 1, stride))
          .otherwise(array().cast("array<int>"))
        Tables.documents(s, d)
          .select(col("doc_id"), payload.as("pl"))
          .select(col("doc_id"), nFrames.as("n_frames"),
            posexplode(transform(idx,
              i => substring(pl, i * frameSz + 1, lit(frameSz)))))
          .select(col("doc_id"), col("n_frames"),
            col("pos").as("sample_idx"),
            octet_length(col("col")).as("frame_bytes"),
            md5(col("col")).as("frame_md5"))
          .orderBy("doc_id", "sample_idx")
      },
      Some("""SELECT doc_id, CAST(nf AS INT) AS n_frames,
        CAST(i // stride AS INT) AS sample_idx,
        CAST(octet_length(encode(substr(text,
          CAST(i * 64 + 1 AS INT), 64))) AS INT) AS frame_bytes,
        md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
      FROM (
        SELECT doc_id, text, nf, stride,
          unnest(generate_series(0, nf - 1, stride)) AS i
        FROM (
          SELECT doc_id, text,
            CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS nf,
            greatest(CAST(ceil(ceil(octet_length(encode(text)) / 64.0)
              / 8.0) AS BIGINT), 1) AS stride
          FROM documents) b) t
      ORDER BY doc_id, sample_idx""")),

    // ---- REAL decode → features (typed mapPartitions path): encode
    //      each doc as a true 24-bit BMP, then decode it back with
    //      the header+scanline parser. The oracle recomputes what the
    //      decode MUST produce from the pixel formula alone (integer
    //      sums; one double division at the end — correctly-rounded
    //      identically in both engines), so the hash-match certifies
    //      the decoder inverted the file format: pad bytes excluded
    //      from means, BGR unwound to r/g/b, bottom-up rows flipped
    //      (r00 is the TOP-left pixel; a decoder reading file order
    //      would emit the bottom-left and mismatch). ----
    QuerySpec(
      "m03_decode_features",
      (s, d) => decodeBmpFeatures(s, bmpFixture(s, d)).orderBy("doc_id"),
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 13) AS INT) AS w,
               CAST(3 + (n_chars % 7) AS INT) AS h
        FROM documents),
      grid AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, w - 1)) AS x FROM dims) gx),
      agg AS (
        SELECT doc_id, w, h,
          CAST(SUM((doc_id*19 + x*23 + y*29) % 256) AS DOUBLE) / (w*h)
            AS mean_r,
          CAST(SUM((doc_id*11 + x*13 + y*17) % 256) AS DOUBLE) / (w*h)
            AS mean_g,
          CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS DOUBLE) / (w*h)
            AS mean_b
        FROM grid GROUP BY doc_id, w, h)
      SELECT d.doc_id,
        CAST(54 + ((3*d.w + 3) // 4) * 4 * d.h AS INT) AS n_bytes,
        d.w AS width, d.h AS height,
        a.mean_r, a.mean_g, a.mean_b,
        CAST((d.doc_id*19) % 256 AS INT) AS r00,
        CAST((d.doc_id*11) % 256 AS INT) AS g00,
        CAST((d.doc_id*7) % 256 AS INT) AS b00
      FROM dims d JOIN agg a USING (doc_id)
      ORDER BY doc_id""")),

    // ---- image tiling (ViT-style patch grid): synthesize per-doc
    //      image dimensions from metadata (deterministic integer
    //      derivation — the fixtures carry no real pixels), cover each
    //      image with 128×128 tiles, emit one row per tile with its
    //      clipped pixel box. This is the vision-preprocessing twin of
    //      m02's chunking: the explode is the Spark-native fan-out (a
    //      tile row per (tx, ty)), all integer math so the oracle
    //      recomputes every box exactly. Scale shape: per-row explode
    //      of a bounded grid (≤ ceil(w/128)·ceil(h/128) tiles), no
    //      shuffle at all until the output sort; the downstream crop/
    //      resize would run per-tile through m03's batched decode. ----
    QuerySpec(
      "m05_tile_grid",
      (s, d) => {
        val w = (lit(64) + pmod(col("n_chars"), lit(577))).as("w")
        val h = (lit(64) + pmod(col("n_chars") * 7, lit(431))).as("h")
        val ts = 128
        val base = Tables.documents(s, d)
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), w, h)
          .withColumn("nx", floor((col("w") + ts - 1) / ts).cast("long"))
          .withColumn("ny", floor((col("h") + ts - 1) / ts).cast("long"))
        base
          .select(col("doc_id"), col("w"), col("h"), col("ny"),
            explode(sequence(lit(0L), col("nx") - 1)).as("tx"))
          .select(col("doc_id"), col("w"), col("h"), col("tx"),
            explode(sequence(lit(0L), col("ny") - 1)).as("ty"))
          .select(col("doc_id"), col("tx"), col("ty"),
            (col("tx") * ts).as("x0"), (col("ty") * ts).as("y0"),
            least(col("tx") * ts + ts, col("w")).as("x1"),
            least(col("ty") * ts + ts, col("h")).as("y1"))
          .orderBy("doc_id", "tx", "ty")
      },
      Some("""SELECT doc_id, tx, ty,
        tx * 128 AS x0, ty * 128 AS y0,
        least(tx * 128 + 128, w) AS x1,
        least(ty * 128 + 128, h) AS y1
      FROM (
        SELECT doc_id, w, h, tx,
          unnest(generate_series(0, (h + 127) // 128 - 1)) AS ty
        FROM (
          SELECT doc_id, w, h,
            unnest(generate_series(0, (w + 127) // 128 - 1)) AS tx
          FROM (SELECT doc_id,
                  64 + (n_chars % 577) AS w,
                  64 + ((n_chars * 7) % 431) AS h
                FROM documents WHERE doc_id < 200) dims) tq) t
      ORDER BY doc_id, tx, ty""")),

    // ---- modality routing by magic bytes: the dispatch step in
    //      front of every multimodal decode fan-out. Mixed-modality
    //      ingest (the reference's drive listing returns pdf, docx,
    //      png, … side by side — `sharepoint_to_bronze_delta.py:
    //      163-176` fetches them all through one blob path) cannot
    //      trust metadata columns; production routers SNIFF the
    //      payload's leading bytes (JPEG FF D8 FF, PNG 89 50 4E 47,
    //      RIFF 52 49 46 46) and route each row to its decoder.
    //      Fixtures have no real media, so the payload is synthesized
    //      by prepending a signature header chosen from the source id
    //      — the ROUTER then recovers modality from the BYTES ALONE
    //      (sniff = hex of the first 4 bytes; the metadata column is
    //      only used to prove lineage via n_sources). Per-row
    //      projection + one rollup: no extra shuffle beyond the
    //      4-group aggregate; at 100 TB the same `repartition(
    //      $"modality")` feeds per-modality decoder pools. ----
    QuerySpec(
      "m06_modality_route",
      (s, d) => {
        val srcN = substring(col("source"), 4, 10).cast("int")
        val hdrHex = when(pmod(srcN, lit(4)) === 0, lit("FFD8FFE0"))
          .when(pmod(srcN, lit(4)) === 1, lit("89504E47"))
          .when(pmod(srcN, lit(4)) === 2, lit("52494646"))
          .otherwise(lit(""))
        val sniffed = Tables.documents(s, d)
          .select(col("source"),
            concat(unhex(hdrHex), payload).as("payload"))
          .withColumn("sig", hex(expr("substring(payload, 1, 4)")))
        sniffed
          .withColumn("modality",
            when(col("sig").startsWith("FFD8FF"), "image/jpeg")
              .when(col("sig").startsWith("89504E47"), "image/png")
              .when(col("sig").startsWith("52494646"), "audio/riff")
              .otherwise("text/plain"))
          .groupBy(col("modality"))
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("payload"))).as("n_bytes"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("modality")
      },
      Some("""WITH p AS (SELECT source,
          CASE CAST(substr(source, 4) AS INT) % 4
            WHEN 0 THEN unhex('FFD8FFE0') || encode(text)
            WHEN 1 THEN unhex('89504E47') || encode(text)
            WHEN 2 THEN unhex('52494646') || encode(text)
            ELSE encode(text) END AS payload
        FROM documents),
      s AS (SELECT source, payload,
          substr(hex(payload), 1, 8) AS sig FROM p)
      SELECT CASE WHEN sig LIKE 'FFD8FF%' THEN 'image/jpeg'
                  WHEN sig LIKE '89504E47%' THEN 'image/png'
                  WHEN sig LIKE '52494646%' THEN 'audio/riff'
                  ELSE 'text/plain' END AS modality,
        COUNT(1) AS n_docs,
        CAST(SUM(octet_length(payload)) AS BIGINT) AS n_bytes,
        COUNT(DISTINCT source) AS n_sources
      FROM s GROUP BY 1 ORDER BY 1""")),

    // ---- REAL audio decode: generate true RIFF/WAVE bytes (16-bit
    //      PCM, mono and stereo, an INFO LIST chunk forcing genuine
    //      chunk-walking) into a binary column, then batch-decode
    //      through the chunk parser — the audio twin of m03's BMP
    //      path. The oracle recomputes what the decode MUST produce
    //      from the sample formula alone (integer sums; IEEE double
    //      divisions identical in both engines), so the hash-match
    //      certifies the decoder inverted the format: fmt fields
    //      cross-checked, LIST skipped with even padding, int16
    //      frames de-interleaved (mean_ch1 null for mono; s0_ch0 is
    //      channel 0's first sample — an interleave-order mistake
    //      mismatches immediately). ----
    QuerySpec(
      "m07_wav_decode",
      (s, d) => decodeWavFeatures(s, wavFixture(s, d)).orderBy("doc_id"),
      Some("""WITH dims AS (
        SELECT doc_id,
          CASE n_chars % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            ELSE 44100 END AS rate,
          CAST(1 + (n_chars % 2) AS INT) AS nch,
          CAST(50 + (n_chars % 211) AS INT) AS nf,
          CAST(4 + 2 * (n_chars % 3) AS INT) AS lsize
        FROM documents),
      g AS (SELECT doc_id, nch, nf,
              unnest(generate_series(0, nf - 1)) AS i FROM dims),
      v AS (SELECT doc_id, nch,
              ((doc_id*31 + i*7) % 65536) - 32768 AS v0,
              ((doc_id*31 + i*7 + 13) % 65536) - 32768 AS v1
            FROM g),
      a AS (SELECT doc_id,
              CAST(SUM(v0) AS DOUBLE) / COUNT(1) AS mean_ch0,
              CASE WHEN MAX(nch) = 2
                THEN CAST(SUM(v1) AS DOUBLE) / COUNT(1) END AS mean_ch1,
              MAX(CASE WHEN nch = 2 THEN GREATEST(ABS(v0), ABS(v1))
                       ELSE ABS(v0) END) AS peak
            FROM v GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(12 + 24 + 8 + d.lsize + 8 + d.nf * d.nch * 2 AS INT)
          AS n_bytes,
        CAST(d.rate AS INT) AS sample_rate,
        d.nch AS n_channels, d.nf AS n_frames,
        CAST(d.nf AS DOUBLE) / d.rate AS duration_sec,
        a.mean_ch0, a.mean_ch1,
        CAST(((d.doc_id*31) % 65536) - 32768 AS INT) AS s0_ch0,
        CAST(a.peak AS INT) AS peak
      FROM dims d JOIN a USING (doc_id) ORDER BY doc_id""")),

    // ---- binary-FILE source: the same real decode, but over FILES —
    //      how a 100 TB media corpus actually arrives (a blob per
    //      asset under an object-store prefix, not a parquet binary
    //      column). Each doc's true BMP is materialized once per
    //      session as `<doc_id>.bmp`; `spark.read.format("binaryFile")`
    //      lists and reads them back (path + length metadata, content
    //      bytes), identity is recovered from the file NAME, and the
    //      content flows through the same batched decodeBmp loop. The
    //      oracle recomputes the name, the byte length, and every
    //      decoded feature from the pixel formula alone, so a wrong
    //      listing, a truncated read, or a path↔content mix-up all
    //      hash-mismatch; the listed length is also asserted against
    //      the read content inside the decode batch. Scale shape:
    //      binaryFile splits by file under files.maxPartitionBytes
    //      exactly like parquet, the decode is per-partition with no
    //      shuffle, and the local temp dir stands in for the store
    //      prefix. ----
    QuerySpec(
      "m08_binary_source",
      (s, d) => {
        import s.implicits._
        s.read.format("binaryFile").option("pathGlobFilter", "*.bmp")
          .load(bmpFilesDir(s, d))
          .select(
            regexp_extract(col("path"), "([0-9]+\\.bmp)$", 1)
              .as("file_name"),
            regexp_extract(col("path"), "([0-9]+)\\.bmp$", 1)
              .cast("long").as("doc_id"),
            col("length"), col("content"))
          .as[(String, Long, Long, Array[Byte])]
          .transform(decodeBmpFileRows).orderBy("doc_id")
      },
      Some(bmpFileOracle)),

    // ---- MANIFEST-driven binary source: the same decode as m08 over
    //      the same media corpus, but the FILE LIST comes from the
    //      bronze table's commit metadata instead of re-enumerating
    //      the source prefix. The corpus is merge-ingested ONCE per
    //      session (identity-keyed, stats collected); the query then
    //      resolves its input files through the manifest + per-file
    //      stats (`BronzeMerge.snapshotBetween`) — the scan's root
    //      paths are the exact parquet FILES, zero directory listing.
    //      This is the 100 TB read shape: an object-store LIST over
    //      ~10⁸ blobs per query (m08's shape) becomes O(batches)
    //      manifest text + O(files) local metadata rows, and the
    //      listed length certifies content integrity end-to-end (the
    //      decode asserts manifest length == read bytes). Oracle:
    //      byte-identical contract to m08 — same features, same
    //      names — proving the two listing strategies are
    //      interchangeable. ----
    QuerySpec(
      "m15_bronze_media",
      (s, d) => {
        import s.implicits._
        graft.ingest.BronzeMerge
          .snapshotBetween(s, bronzeMediaTable(s, d), "length",
            0L, Long.MaxValue)
          .select(col("file_name"),
            regexp_extract(col("file_name"), "^([0-9]+)", 1)
              .cast("long").as("doc_id"),
            col("length"), col("content"))
          .as[(String, Long, Long, Array[Byte])]
          .transform(decodeBmpFileRows).orderBy("doc_id")
      },
      Some(bmpFileOracle)),

    // ---- perceptual-hash image near-dedup: decode each BMP through
    //      [[decodeBmpAhash]] (REAL codec, exact-integer aHash), then
    //      find near-duplicate images by banded LSH over the 64-bit
    //      hash — the image twin of t09's MinHash banding. Candidate
    //      generation is a self-equi-join on (band, 16-bit value);
    //      by pigeonhole that is LOSSLESS for Hamming ≤ 3 (4 bands
    //      can't all differ), and for the 4–6 range it is the standard
    //      LSH trade: a pair must still agree on one whole band. The
    //      oracle applies the SAME banded rule, so the emitted
    //      relation is exactly specified, not "approximately top".
    //      Verification is popcount over the band XORs, exact 32-bit
    //      ints end to end. The oracle replays decode + hash + pairs from the
    //      pixel formula in pure integer SQL, so a hash-match
    //      certifies codec, thresholding, banding, and Hamming all at
    //      once. Scale: the hash table is 4 ints/image; the join key
    //      is (band, u16) — never pixels; pair blowup is bounded by
    //      bucket sizes exactly like t09 (same skew ladder applies).
    //      Decode is map-only on the scan — payloads never shuffle. ----
    QuerySpec(
      "m09_ahash_pairs",
      (s, d) => ahashPairs(s, d, maxHam = 6).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $ahashWideCtes
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
          AS INT) AS hamming
      FROM wide a JOIN wide b
        ON a.doc_id < b.doc_id
        AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
      WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 6
      ORDER BY doc_a, doc_b""")),

    // ---- image dedup DECISION: m09 measures near-dup pairs; m10
    //      turns them into clusters and picks survivors — the same
    //      measure→decide pairing as t09→t12 for text. Edges are the
    //      Hamming ≤ 3 pairs, where 4-band LSH is LOSSLESS by
    //      pigeonhole, so the edge relation is the exact brute-force
    //      one and the oracle needs no banding clause. Clustering is
    //      the shared min-label-propagation engine (Text.scala: one
    //      edge⨝label join + min-agg per generation, per-generation
    //      localCheckpoint — O(log diameter), no driver-side graph);
    //      images in no pair keep themselves. At 100 TB: the label
    //      table is O(images), edges are int pairs, pixels appear in
    //      NO stage past the map-side decode. ----
    QuerySpec(
      "m10_ahash_groups",
      (s, d) => {
        val labels = ahashLabels(s, d)
        Tables.documents(s, d).select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("group_id"))
          .withColumn("keep", col("doc_id") === col("group_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ahashWideCtes,
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM wide a JOIN wide b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
      edges AS (SELECT da AS a, db AS b FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS lbl
        FROM reach GROUP BY a)
      SELECT d.doc_id,
        COALESCE(l.lbl, d.doc_id) AS group_id,
        d.doc_id = COALESCE(l.lbl, d.doc_id) AS keep
      FROM documents d LEFT JOIN labels l USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- REAL resize (thumbnail step): decode each BMP, resample to
    //      a fixed 8×6 with nearest-neighbor (source pixel for target
    //      (x', y') is (x'·w/tw, y'·h/th) — exact integer index math,
    //      duplicating pixels when upsampling and dropping them when
    //      downsampling), emit the thumbnail's features. Completes the
    //      literal decode / feature-extract / RESIZE / frame-sample /
    //      tile set over true media bytes. The oracle replays the NN
    //      index map against the pixel formula, so a resampler that
    //      rounds instead of floors, swaps axes, or reads bottom-up
    //      rows as top-down hash-mismatches. Scale: map-only on the
    //      fixture scan, features are the only output — the same
    //      no-shuffle decode shape as m03/m07. ----
    QuerySpec(
      "m11_resize",
      (s, d) => {
        import s.implicits._
        bmpFixture(s, d).as[MediaRow]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.map(r =>
              decodeBmpResize(r.doc_id, r.payload, 8, 6)))
          }.toDF().orderBy("doc_id")
      },
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 13) AS BIGINT) AS w,
               CAST(3 + (n_chars % 7) AS BIGINT) AS h
        FROM documents),
      tgt AS (
        SELECT doc_id, w, h, tx, unnest(generate_series(0, 5)) AS ty
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, 7)) AS tx FROM dims) g),
      ch AS (
        SELECT doc_id, w, h, tx, ty,
          (doc_id*19 + ((tx*w)//8)*23 + ((ty*h)//6)*29) % 256 AS r,
          (doc_id*11 + ((tx*w)//8)*13 + ((ty*h)//6)*17) % 256 AS g,
          (doc_id*7 + ((tx*w)//8)*3 + ((ty*h)//6)*5) % 256 AS b
        FROM tgt)
      SELECT doc_id,
        CAST(MAX(w) AS INT) AS src_w, CAST(MAX(h) AS INT) AS src_h,
        8 AS width, 6 AS height,
        CAST(SUM(r) AS DOUBLE) / 48 AS mean_r,
        CAST(SUM(g) AS DOUBLE) / 48 AS mean_g,
        CAST(SUM(b) AS DOUBLE) / 48 AS mean_b,
        CAST(MAX(CASE WHEN tx = 0 AND ty = 0 THEN r END) AS INT) AS r00,
        CAST(MAX(CASE WHEN tx = 0 AND ty = 0 THEN g END) AS INT) AS g00,
        CAST(MAX(CASE WHEN tx = 0 AND ty = 0 THEN b END) AS INT) AS b00
      FROM ch GROUP BY doc_id ORDER BY doc_id""")),

    // ---- audio FRAME features: fixed 25-sample windows over the
    //      REAL decoded PCM (channel 0) — per-frame energy Σv², zero
    //      crossings, peak — the framing step in front of any
    //      spectral/VAD feature extractor, over true RIFF bytes via
    //      the same chunk-walking decoder as m07. Exact integers end
    //      to end (energy in Long: 25·32768² ≈ 2.7e10), zero-crossing
    //      uses the lag-within-frame rule on both sides, partial tail
    //      frames are dropped, not padded — each contract the oracle
    //      replays from the sample formula, so a framing off-by-one,
    //      interleave mistake, or sign-convention slip
    //      hash-mismatches. Scale: map-only flatMap on the fixture
    //      scan (the m04 fan-out shape on decoded media) — frames
    //      multiply rows ~8×, payloads never shuffle, the only sort
    //      is the output ORDER BY. ----
    QuerySpec(
      "m12_audio_frames",
      (s, d) => {
        import s.implicits._
        wavFixture(s, d).as[MediaRow]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.flatMap(r =>
              decodeWavFrames(r.doc_id, r.payload, 25)))
          }.toDF().orderBy("doc_id", "frame_id")
      },
      Some("""WITH dims AS (
        SELECT doc_id, CAST(50 + (n_chars % 211) AS INT) AS nf
        FROM documents),
      g AS (
        SELECT doc_id, i, CAST(i // 25 AS INT) AS frame_id,
          ((doc_id*31 + i*7) % 65536) - 32768 AS v
        FROM (SELECT doc_id,
                unnest(generate_series(0, (nf // 25) * 25 - 1)) AS i
              FROM dims) t),
      lg AS (
        SELECT doc_id, frame_id, v,
          LAG(v) OVER (PARTITION BY doc_id, frame_id ORDER BY i) AS pv
        FROM g)
      SELECT doc_id, frame_id,
        CAST(frame_id * 25 AS INT) AS start,
        25 AS n_samples,
        CAST(SUM(v * v) AS BIGINT) AS energy,
        CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
          THEN 1 ELSE 0 END) AS INT) AS n_zero_cross,
        CAST(MAX(ABS(v)) AS INT) AS max_abs
      FROM lg GROUP BY doc_id, frame_id
      ORDER BY doc_id, frame_id""")),

    // ---- per-channel COLOR HISTOGRAMS over the decoded pixels: 16
    //      bins × 3 channels per image, zeros included (the relation
    //      is docs × 16 whatever the content) — the feature the
    //      dedup/quality side of an image pipeline bins on before
    //      anything learned. Decode honors the same contracts as
    //      m03 (bottom-up rows, 4-byte padding, BGR order) through
    //      the shared [[bmpLayout]]; the oracle replays pixel →
    //      bin = value/16 → count from the formula, so a channel
    //      swap or padding slip shifts counts and hash-mismatches.
    //      Map-only fan-out ×16, payloads never shuffle. ----
    QuerySpec(
      "m13_color_histogram",
      (s, d) => {
        import s.implicits._
        bmpFixture(s, d).as[MediaRow]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.flatMap(r =>
              decodeBmpHistogram(r.doc_id, r.payload)))
          }.toDF().orderBy("doc_id", "bin")
      },
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 13) AS INT) AS w,
               CAST(3 + (n_chars % 7) AS INT) AS h
        FROM documents),
      grid AS (
        SELECT doc_id, x, unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, w - 1)) AS x FROM dims) gx),
      px AS (
        SELECT doc_id,
          ((doc_id*19 + x*23 + y*29) % 256) // 16 AS rb,
          ((doc_id*11 + x*13 + y*17) % 256) // 16 AS gb,
          ((doc_id*7 + x*3 + y*5) % 256) // 16 AS bb
        FROM grid),
      bins AS (SELECT doc_id, unnest(generate_series(0, 15)) AS bin
               FROM dims),
      rc AS (SELECT doc_id, rb AS bin, COUNT(1) AS n FROM px
             GROUP BY 1, 2),
      gc AS (SELECT doc_id, gb AS bin, COUNT(1) AS n FROM px
             GROUP BY 1, 2),
      bc AS (SELECT doc_id, bb AS bin, COUNT(1) AS n FROM px
             GROUP BY 1, 2)
      SELECT b.doc_id, CAST(b.bin AS INT) AS bin,
        CAST(COALESCE(rc.n, 0) AS BIGINT) AS n_r,
        CAST(COALESCE(gc.n, 0) AS BIGINT) AS n_g,
        CAST(COALESCE(bc.n, 0) AS BIGINT) AS n_b
      FROM bins b
      LEFT JOIN rc ON rc.doc_id = b.doc_id AND rc.bin = b.bin
      LEFT JOIN gc ON gc.doc_id = b.doc_id AND gc.bin = b.bin
      LEFT JOIN bc ON bc.doc_id = b.doc_id AND bc.bin = b.bin
      ORDER BY b.doc_id, b.bin""")),

    // ---- QUARANTINE decode: a 100 TB media corpus CONTAINS corrupt
    //      files, and one of them must never kill the job — the
    //      reference's per-file error isolation (C2,
    //      `sharepoint_to_bronze_delta.py:213-219`) applied to the
    //      decode stage. The fixture truncates every doc_id ≡ 0
    //      (mod 7) payload mid-pixel-array; the batched decode
    //      try/catches PER ROW, emitting decoded features for good
    //      rows and (ok=false, null features) for bad ones, so the
    //      oracle can predict the ENTIRE relation — which rows fail
    //      is part of the contract, not luck. Scale: map-only, same
    //      shape as m03; the quarantined slice is a filter away. ----
    QuerySpec(
      "m14_decode_quarantine",
      (s, d) => {
        import s.implicits._
        bmpFixture(s, d).as[MediaRow]
          .map(r => MediaRow(r.doc_id,
            if (r.doc_id % 7 == 0) r.payload.take(40) else r.payload))
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.map { r =>
              try {
                val (w, h, mr, mg, mb, _, _, _) = decodeBmp(r.payload)
                DecodeAudit(r.doc_id, ok = true, r.payload.length,
                  Some(w), Some(h), Some(mr), Some(mg), Some(mb))
              } catch {
                // NonFatal, not just the validator's IAE: a header
                // that lies (e.g. a width whose rowSize overflows
                // Int) can slip the bounds require and surface as an
                // index error in the pixel loop — still a corrupt
                // FILE, never a dead JOB
                case scala.util.control.NonFatal(_) =>
                  DecodeAudit(r.doc_id, ok = false, r.payload.length,
                    None, None, None, None, None)
              }
            })
          }.toDF().orderBy("doc_id")
      },
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 13) AS INT) AS w,
               CAST(3 + (n_chars % 7) AS INT) AS h
        FROM documents),
      grid AS (
        SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h,
                unnest(generate_series(0, w - 1)) AS x FROM dims) gx),
      agg AS (
        SELECT doc_id, w, h,
          CAST(SUM((doc_id*19 + x*23 + y*29) % 256) AS DOUBLE) / (w*h)
            AS mean_r,
          CAST(SUM((doc_id*11 + x*13 + y*17) % 256) AS DOUBLE) / (w*h)
            AS mean_g,
          CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS DOUBLE) / (w*h)
            AS mean_b
        FROM grid GROUP BY doc_id, w, h)
      SELECT d.doc_id,
        d.doc_id % 7 <> 0 AS ok,
        CAST(CASE WHEN d.doc_id % 7 = 0
          THEN LEAST(40, 54 + ((3*d.w + 3) // 4) * 4 * d.h)
          ELSE 54 + ((3*d.w + 3) // 4) * 4 * d.h END AS INT) AS n_bytes,
        CASE WHEN d.doc_id % 7 <> 0 THEN d.w END AS width,
        CASE WHEN d.doc_id % 7 <> 0 THEN d.h END AS height,
        CASE WHEN d.doc_id % 7 <> 0 THEN a.mean_r END AS mean_r,
        CASE WHEN d.doc_id % 7 <> 0 THEN a.mean_g END AS mean_g,
        CASE WHEN d.doc_id % 7 <> 0 THEN a.mean_b END AS mean_b
      FROM dims d JOIN agg a USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- energy-gated VAD segmentation: threshold m12's per-frame
    //      energy, then collapse consecutive voiced frames into
    //      SEGMENTS (gaps-and-islands: frame_id − row_number over the
    //      voiced frames is constant exactly within a run) with a
    //      2-frame minimum duration — the silence-trim pass a speech
    //      corpus runs before any transcription or feature step, over
    //      the REAL decoded PCM (the same RIFF chunk walk as m07/m12;
    //      a framing off-by-one moves a segment boundary and
    //      hash-mismatches). All integer math end to end — threshold
    //      25·16384² (mean amplitude ≥ half scale), energies exact in
    //      Long — so no rounding escape hatch. Scale: map-only decode
    //      fan-out, then the per-doc window and the (doc, run)
    //      aggregate both partition by doc_id — frames-per-doc is
    //      bounded by clip length, so the island pass never sees more
    //      than one clip's frames in a partition task. ----
    QuerySpec(
      "m16_audio_vad",
      (s, d) => audioSegments(s, d)
        .select(col("doc_id"), col("seg_id"), col("start_frame"),
          (col("start_frame") * 25).as("start_sample"),
          col("end_frame"), col("n_frames"),
          (col("n_frames") * 25).as("n_samples"),
          col("energy"), col("peak"))
        .orderBy("doc_id", "seg_id"),
      Some("""WITH dims AS (
        SELECT doc_id, CAST(50 + (n_chars % 211) AS INT) AS nf
        FROM documents),
      g AS (
        SELECT doc_id, CAST(i // 25 AS INT) AS frame_id,
          ((doc_id*31 + i*7) % 65536) - 32768 AS v
        FROM (SELECT doc_id,
                unnest(generate_series(0, (nf // 25) * 25 - 1)) AS i
              FROM dims) t),
      f AS (
        SELECT doc_id, frame_id, CAST(SUM(v * v) AS BIGINT) AS energy,
          CAST(MAX(ABS(v)) AS INT) AS max_abs
        FROM g GROUP BY doc_id, frame_id),
      voiced AS (
        SELECT doc_id, frame_id, energy, max_abs,
          frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY frame_id) AS grp
        FROM f WHERE energy >= 6710886400),
      seg AS (
        SELECT doc_id, grp,
          CAST(MIN(frame_id) AS INT) AS start_frame,
          CAST(MAX(frame_id) AS INT) AS end_frame,
          CAST(COUNT(1) AS INT) AS n_frames,
          CAST(SUM(energy) AS BIGINT) AS energy,
          CAST(MAX(max_abs) AS INT) AS peak
        FROM voiced GROUP BY doc_id, grp
        HAVING COUNT(1) >= 2)
      SELECT doc_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY start_frame) AS INT) AS seg_id,
        start_frame, CAST(start_frame * 25 AS INT) AS start_sample,
        end_frame, n_frames, CAST(n_frames * 25 AS INT) AS n_samples,
        energy, peak
      FROM seg ORDER BY doc_id, seg_id""")),

    // ---- SHOT-BOUNDARY detection (scene detect): the video twin of
    //      m16's VAD, over REAL raw-video bytes (GVID planes via the
    //      same validate-then-walk decode discipline as m07/m12). The
    //      decoder emits per-frame intensity and SAD-vs-previous —
    //      SAD is computed INSIDE the per-doc decode, where
    //      consecutive frames are adjacent bytes in one payload, so
    //      no self-join or shuffle ever touches pixel data. A frame
    //      is a CUT when SAD ≥ 50·n_px (the fixture's scene steps
    //      guarantee within-scene SAD ≤ 4·n_px, cross-scene ≥ 97·n_px
    //      — the threshold has provable margin, not tuned luck);
    //      shot_id is the running sum of cuts. The oracle replays
    //      pixel → SAD → cut → islands from the formula, so a plane
    //      off-by-one, an abs-diff sign slip, or a boundary placed on
    //      the wrong side hash-mismatches. Scale: map-only decode
    //      fan-out (frames ≪ payload bytes), per-doc window + (doc,
    //      shot) aggregate both partition by doc_id; frames-per-doc
    //      is bounded by clip length. ----
    QuerySpec(
      "m17_scene_detect",
      (s, d) => videoShots(s, d)
        .select(col("doc_id"), col("shot_id"), col("start_frame"),
          col("end_frame"), col("n_frames"), col("intensity"),
          (col("intensity").cast("double") /
            (col("n_frames") * col("n_px"))).as("mean_px"))
        .orderBy("doc_id", "shot_id"),
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 5) AS INT) AS w,
               CAST(3 + (n_chars % 3) AS INT) AS h,
               CAST(20 + (n_chars % 31) AS INT) AS nf,
               CAST(3 + (n_chars % 6) AS INT) AS sl
        FROM documents),
      px AS (
        SELECT doc_id, w, h, sl, f, x,
          unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h, sl, f,
                unnest(generate_series(0, w - 1)) AS x
              FROM (SELECT doc_id, w, h, sl,
                      unnest(generate_series(0, nf - 1)) AS f
                    FROM dims) t) t2),
      v AS (
        SELECT doc_id, f, x, y, w * h AS n_px,
          ((doc_id*19 + (f // sl)*101 + x*23 + y*29) % 251) + (f % 5) AS v
        FROM px),
      fr AS (
        SELECT a.doc_id, a.f, MAX(a.n_px) AS n_px,
          SUM(a.v) AS intensity, SUM(ABS(a.v - b.v)) AS sad
        FROM v a LEFT JOIN v b
          ON b.doc_id = a.doc_id AND b.f = a.f - 1
         AND b.x = a.x AND b.y = a.y
        GROUP BY a.doc_id, a.f),
      cuts AS (
        SELECT doc_id, f, n_px, intensity,
          CASE WHEN f = 0 OR sad >= 50 * n_px THEN 1 ELSE 0 END AS cut
        FROM fr),
      sh AS (
        SELECT doc_id, f, n_px, intensity,
          SUM(cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot_id
        FROM cuts)
      SELECT doc_id, CAST(shot_id AS INT) AS shot_id,
        CAST(MIN(f) AS INT) AS start_frame,
        CAST(MAX(f) AS INT) AS end_frame,
        CAST(COUNT(1) AS INT) AS n_frames,
        CAST(SUM(intensity) AS BIGINT) AS intensity,
        CAST(SUM(intensity) AS DOUBLE) / (COUNT(1) * MAX(n_px)) AS mean_px
      FROM sh GROUP BY doc_id, shot_id
      ORDER BY doc_id, shot_id""")),

    // ---- A/V ALIGNMENT: interval-join m16's voiced audio segments
    //      with m17's video shots on the NORMALIZED clip-time axis —
    //      the alignment step that extracts speech-bearing clips
    //      from a video corpus. The two tracks of one asset sample at
    //      different rates (audio analysis frames vs video frames)
    //      but span the same clip, so normalized position IS the
    //      shared axis: audio frame f covers [f/na, (f+1)/na), shot
    //      frame g covers [g/nv, (g+1)/nv). All comparisons are
    //      cross-multiplied integers (a·nv vs g·na) and the overlap
    //      is measured in exact 1/(na·nv) units — the only double is
    //      one final division both engines compute from the same
    //      integers, so the oracle hash-matches. Scale: both sides
    //      are doc-partitioned aggregates of map-only decode
    //      fan-outs; the join is an equi-join on doc_id with a
    //      row-local interval predicate — per-doc sizes are bounded
    //      by clip length, so no interval-join machinery (e11's
    //      bucketing) is needed at any corpus size: the fan-out is
    //      segments × shots PER DOC, never across docs. ----
    QuerySpec(
      "m18_av_align",
      (s, d) => {
        val segs = audioSegments(s, d)
          .select(col("doc_id"), col("seg_id"),
            col("start_frame").as("a_start"),
            col("end_frame").as("a_end"), col("na"))
        val shots = videoShots(s, d)
          .select(col("doc_id"), col("shot_id"),
            col("start_frame").as("v_start"),
            col("end_frame").as("v_end"), col("nv"))
        val ovStart = greatest(col("a_start") * col("nv"),
          col("v_start") * col("na"))
        val ovEnd = least((col("a_end") + 1) * col("nv"),
          (col("v_end") + 1) * col("na"))
        segs.join(shots, "doc_id")
          .filter(ovEnd > ovStart)
          .select(col("doc_id"), col("seg_id"), col("shot_id"),
            col("a_start"), col("a_end"), col("v_start"), col("v_end"),
            (ovEnd - ovStart).cast("long").as("ov_units"),
            ((ovEnd - ovStart).cast("double") /
              (col("na") * col("nv"))).as("ov_frac"))
          .orderBy("doc_id", "seg_id", "shot_id")
      },
      Some("""WITH adims AS (
        SELECT doc_id, CAST(50 + (n_chars % 211) AS INT) AS nfw
        FROM documents),
      ag AS (
        SELECT doc_id, CAST(i // 25 AS INT) AS frame_id,
          ((doc_id*31 + i*7) % 65536) - 32768 AS v
        FROM (SELECT doc_id,
                unnest(generate_series(0, (nfw // 25) * 25 - 1)) AS i
              FROM adims) t),
      af AS (
        SELECT doc_id, frame_id, SUM(v * v) AS energy
        FROM ag GROUP BY doc_id, frame_id),
      voiced AS (
        SELECT doc_id, frame_id,
          frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY frame_id) AS grp
        FROM af WHERE energy >= 6710886400),
      aseg AS (
        SELECT doc_id, CAST(MIN(frame_id) AS INT) AS a_start,
          CAST(MAX(frame_id) AS INT) AS a_end
        FROM voiced GROUP BY doc_id, grp HAVING COUNT(1) >= 2),
      segs AS (
        SELECT s.doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY s.doc_id
            ORDER BY a_start) AS INT) AS seg_id,
          a_start, a_end, CAST(d.nfw // 25 AS INT) AS na
        FROM aseg s JOIN adims d ON d.doc_id = s.doc_id),
      vdims AS (
        SELECT doc_id, CAST(4 + (n_chars % 5) AS INT) AS w,
               CAST(3 + (n_chars % 3) AS INT) AS h,
               CAST(20 + (n_chars % 31) AS INT) AS nf,
               CAST(3 + (n_chars % 6) AS INT) AS sl
        FROM documents),
      px AS (
        SELECT doc_id, w, h, sl, f, x,
          unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h, sl, f,
                unnest(generate_series(0, w - 1)) AS x
              FROM (SELECT doc_id, w, h, sl,
                      unnest(generate_series(0, nf - 1)) AS f
                    FROM vdims) t) t2),
      v AS (
        SELECT doc_id, f, x, y, w * h AS n_px,
          ((doc_id*19 + (f // sl)*101 + x*23 + y*29) % 251) + (f % 5) AS v
        FROM px),
      fr AS (
        SELECT a.doc_id, a.f, MAX(a.n_px) AS n_px,
          SUM(ABS(a.v - b.v)) AS sad
        FROM v a LEFT JOIN v b
          ON b.doc_id = a.doc_id AND b.f = a.f - 1
         AND b.x = a.x AND b.y = a.y
        GROUP BY a.doc_id, a.f),
      cuts AS (
        SELECT doc_id, f,
          CASE WHEN f = 0 OR sad >= 50 * n_px THEN 1 ELSE 0 END AS cut
        FROM fr),
      sh AS (
        SELECT doc_id, f,
          SUM(cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot_id
        FROM cuts),
      shots AS (
        SELECT s.doc_id, CAST(s.shot_id AS INT) AS shot_id,
          CAST(MIN(s.f) AS INT) AS v_start,
          CAST(MAX(s.f) AS INT) AS v_end, MAX(d.nf) AS nv
        FROM sh s JOIN vdims d ON d.doc_id = s.doc_id
        GROUP BY s.doc_id, s.shot_id)
      SELECT a.doc_id, a.seg_id, b.shot_id,
        a.a_start, a.a_end, b.v_start, b.v_end,
        CAST(LEAST((a.a_end + 1) * b.nv, (b.v_end + 1) * a.na)
           - GREATEST(a.a_start * b.nv, b.v_start * a.na) AS BIGINT)
          AS ov_units,
        CAST(LEAST((a.a_end + 1) * b.nv, (b.v_end + 1) * a.na)
           - GREATEST(a.a_start * b.nv, b.v_start * a.na) AS DOUBLE)
          / (a.na * b.nv) AS ov_frac
      FROM segs a JOIN shots b ON b.doc_id = a.doc_id
      WHERE LEAST((a.a_end + 1) * b.nv, (b.v_end + 1) * a.na)
          > GREATEST(a.a_start * b.nv, b.v_start * a.na)
      ORDER BY a.doc_id, seg_id, shot_id""")),

    // ---- MOTION MAP: per-quadrant SAD between consecutive frames —
    //      m17's cut statistic at REGION granularity, the signal that
    //      separates "scene moved" from "corner overlay stayed flat"
    //      (watermark/subtitle detection bins on exactly this). The
    //      fixture's uniform pixel formula makes each quadrant's
    //      moving flag flip only at scene cuts (threshold 50·n_px_q,
    //      m17's margin argument per quadrant), which the oracle
    //      replays pixel-for-pixel. Scale: map-only decode fan-out
    //      (4 rows per frame pair), quadrant sums computed inside the
    //      decoder where both frames are adjacent bytes — pixels
    //      never enter the dataflow. ----
    QuerySpec(
      "m19_motion_tiles",
      (s, d) => {
        import s.implicits._
        videoFixture(s, d).as[MediaRow]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.flatMap(r =>
              decodeVideoMotion(r.doc_id, r.payload)))
          }.toDF()
          .select(col("doc_id"), col("frame_id"), col("q"),
            col("n_px_q"), col("sad"),
            (col("sad") >= lit(50L) * col("n_px_q")).as("moving"))
          .orderBy("doc_id", "frame_id", "q")
      },
      Some("""WITH dims AS (
        SELECT doc_id, CAST(4 + (n_chars % 5) AS INT) AS w,
               CAST(3 + (n_chars % 3) AS INT) AS h,
               CAST(20 + (n_chars % 31) AS INT) AS nf,
               CAST(3 + (n_chars % 6) AS INT) AS sl
        FROM documents),
      px AS (
        SELECT doc_id, w, h, sl, f, x,
          unnest(generate_series(0, h - 1)) AS y
        FROM (SELECT doc_id, w, h, sl, f,
                unnest(generate_series(0, w - 1)) AS x
              FROM (SELECT doc_id, w, h, sl,
                      unnest(generate_series(0, nf - 1)) AS f
                    FROM dims) t) t2),
      v AS (
        SELECT doc_id, f, x, y,
          CASE WHEN y >= (h + 1) // 2 THEN 2 ELSE 0 END
            + CASE WHEN x >= (w + 1) // 2 THEN 1 ELSE 0 END AS q,
          ((doc_id*19 + (f // sl)*101 + x*23 + y*29) % 251) + (f % 5) AS v
        FROM px),
      sadq AS (
        SELECT a.doc_id, a.f AS frame_id, a.q,
          CAST(COUNT(1) AS INT) AS n_px_q,
          CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS sad
        FROM v a JOIN v b
          ON b.doc_id = a.doc_id AND b.f = a.f - 1
         AND b.x = a.x AND b.y = a.y
        GROUP BY a.doc_id, a.f, a.q)
      SELECT doc_id, frame_id, CAST(q AS INT) AS q, n_px_q, sad,
        sad >= 50 * n_px_q AS moving
      FROM sadq ORDER BY doc_id, frame_id, q""")),

    // ---- PITCH TRACKING: normalized-autocorrelation period detection
    //      over a planted periodic tone — the fundamental-frequency
    //      estimator (YIN/RAPT's core statistic) every speech/music
    //      curation pipeline runs before prosody or melody features.
    //      The fixture's sample formula repeats exactly every `period`
    //      frames (distinct residues within a period ⇒ the fundamental
    //      IS the planted period), the search range [16, 39] brackets
    //      the planted 20–39 without room for an octave alias, and
    //      argmax tie-breaks to the smaller lag. NAC's three sums are
    //      exact Longs; the double √/divide sequence is IEEE-identical
    //      in both engines, so the oracle — which replays samples from
    //      the formula and re-runs the whole lag sweep in SQL —
    //      hash-matches argmax, NAC value, and derived Hz. A decode
    //      slip (offset, interleave, chunk walk) shifts every sample
    //      and mismatches immediately. Scale: map-only — the lag sweep
    //      runs INSIDE the per-doc decode where the samples are
    //      adjacent bytes; one 5-column row per doc leaves the task,
    //      PCM never enters the dataflow. ----
    QuerySpec(
      "m20_pitch_track",
      (s, d) => {
        import s.implicits._
        wavToneFixture(s, d).as[MediaRow]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.map(r =>
              decodeWavPitch(r.doc_id, r.payload, 16, 39)))
          }.toDF()
          .select(col("doc_id"), col("sample_rate"), col("n_frames"),
            col("best_lag"), round(col("nac"), 9).as("nac"),
            round(col("sample_rate").cast("double") / col("best_lag"), 6)
              .as("freq_hz"))
          .orderBy("doc_id")
      },
      Some("""WITH dims AS (
        SELECT doc_id,
          CASE n_chars % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            ELSE 44100 END AS rate,
          CAST(150 + (n_chars % 100) AS INT) AS nf,
          CAST(20 + (n_chars % 20) AS INT) AS p
        FROM documents),
      lags AS (
        SELECT doc_id, rate, nf, p,
          unnest(generate_series(16, 39)) AS lag
        FROM dims),
      vals AS (
        SELECT doc_id, rate, nf, lag,
          ((doc_id*31 + (i % p)*97) % 65536) - 32768 AS a,
          ((doc_id*31 + ((i + lag) % p)*97) % 65536) - 32768 AS b
        FROM (SELECT doc_id, rate, nf, p, lag,
                unnest(generate_series(0, nf - lag - 1)) AS i
              FROM lags) t),
      acc AS (
        SELECT doc_id, rate, nf, lag,
          CAST(SUM(a*b) AS BIGINT) AS num,
          CAST(SUM(a*a) AS BIGINT) AS d0,
          CAST(SUM(b*b) AS BIGINT) AS d1
        FROM vals GROUP BY 1, 2, 3, 4),
      scored AS (
        SELECT doc_id, rate, nf, lag,
          CAST(num AS DOUBLE)
            / sqrt(CAST(d0 AS DOUBLE) * CAST(d1 AS DOUBLE)) AS nac
        FROM acc),
      best AS (
        SELECT doc_id, rate, nf, lag, nac,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY nac DESC, lag) AS rk
        FROM scored)
      SELECT doc_id, CAST(rate AS INT) AS sample_rate, nf AS n_frames,
        CAST(lag AS INT) AS best_lag, ROUND(nac, 9) AS nac,
        ROUND(CAST(rate AS DOUBLE) / lag, 6) AS freq_hz
      FROM best WHERE rk = 1 ORDER BY doc_id""")),

    // ---- CROSS-MODAL consistency audit: image dup-groups (m10's
    //      Hamming ≤ 3 aHash components — lossless banding by
    //      pigeonhole) crossed with TEXT identity. An image group
    //      whose members carry >1 distinct caption is the
    //      "same image, different text" signal (template/watermark
    //      farms, caption spinning) that neither per-modality dedup
    //      sees: image dedup keeps one copy per pixel cluster, text
    //      dedup keeps every caption — the pair audit is what tells a
    //      curator the modalities DISAGREE about duplication. Only
    //      multi-member groups are reported; texts compare by md5 so
    //      the shuffle carries 32-char keys, never document bodies.
    //      Scale: m10's label table (O(images), int pairs) + one
    //      md5-keyed aggregate — pixels stay inside the map-side
    //      decode, exactly m10's shape plus one bounded rollup. ----
    QuerySpec(
      "m21_caption_reuse",
      (s, d) => {
        val labels = ahashLabels(s, d)
        Tables.documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("tk"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("group_id"), col("tk"))
          .groupBy(col("group_id"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("tk")).as("n_texts"))
          .filter(col("n_docs") >= 2)
          .withColumn("caption_reuse", col("n_texts") > 1)
          .orderBy("group_id")
      },
      Some(s"""WITH RECURSIVE $ahashWideCtes,
      pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM wide a JOIN wide b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
      edges AS (SELECT da AS a, db AS b FROM pairs
                UNION ALL SELECT db, da FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS lbl
        FROM reach GROUP BY a),
      g AS (
        SELECT COALESCE(l.lbl, d.doc_id) AS group_id,
          md5(d.text) AS tk
        FROM documents d LEFT JOIN labels l USING (doc_id))
      SELECT group_id, COUNT(1) AS n_docs,
        COUNT(DISTINCT tk) AS n_texts,
        COUNT(DISTINCT tk) > 1 AS caption_reuse
      FROM g GROUP BY group_id HAVING COUNT(1) >= 2
      ORDER BY group_id""")),

    // ---- SAMPLE-RATE NORMALIZATION: resample every clip's channel 0
    //      to a common 8 kHz grid by linear interpolation — the
    //      standardize-before-featurize step an audio training
    //      pipeline runs first (corpora arrive at 8k/16k/44.1k mixed;
    //      every model wants ONE rate). All arithmetic that crosses
    //      the engine boundary stays EXACT: output position j sits at
    //      rational source offset j·src/8000, so the interpolated
    //      value's NUMERATOR v[i]·(8000−rem) + v[i+1]·rem is an exact
    //      Long (≤ 32768·8000), summed exactly; the only doubles are
    //      the two final single divisions (mean, peak) — both single-
    //      rounded identically in DuckDB's replay of the sample
    //      formula. Resampling happens INSIDE the per-doc decode
    //      (samples never leave the task — the m03/m19 discipline);
    //      output is per-doc stats, not the waveform, so 100 TB of
    //      audio shuffles a fixed few columns per clip. ----
    QuerySpec(
      "m22_audio_resample",
      (s, d) => resampleWavFeatures(s, wavFixture(s, d)).orderBy("doc_id"),
      Some("""WITH dims AS (
        SELECT doc_id,
          CASE n_chars % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            ELSE 44100 END AS rate,
          CAST(50 + (n_chars % 211) AS INT) AS nf
        FROM documents),
      j AS (SELECT doc_id, rate, nf,
              unnest(generate_series(0, ((nf - 1) * 8000) // rate))
                AS j
            FROM dims),
      x AS (SELECT doc_id, rate, nf,
              (j * rate) // 8000 AS idx, (j * rate) % 8000 AS rem
            FROM j),
      v AS (SELECT doc_id, rate, nf, rem,
              ((doc_id * 31 + idx * 7) % 65536) - 32768 AS v0,
              ((doc_id * 31 + (idx + 1) * 7) % 65536) - 32768 AS v1
            FROM x),
      n AS (SELECT doc_id, rate, nf,
              COUNT(1) AS n_out,
              CAST(SUM(v0 * (8000 - rem) + v1 * rem) AS BIGINT)
                AS sumnum,
              CAST(MAX(ABS(v0 * (8000 - rem) + v1 * rem)) AS BIGINT)
                AS peaknum
            FROM v GROUP BY 1, 2, 3)
      SELECT doc_id, CAST(rate AS INT) AS src_rate,
        CAST(nf AS INT) AS n_frames,
        CAST(n_out AS BIGINT) AS n_out,
        CAST(((doc_id * 31) % 65536) - 32768 AS INT) AS out0,
        CAST(sumnum AS DOUBLE)
          / (CAST(8000 AS DOUBLE) * n_out) AS mean_out,
        CAST(peaknum AS DOUBLE) / CAST(8000 AS DOUBLE) AS peak_out
      FROM n ORDER BY doc_id""")),

    // ---- DCT perceptual hash (pHash): the frequency-domain upgrade
    //      of m09's block-mean aHash — decode, 16×16 nearest
    //      resample, separable fixed-point DCT-II ([[DctQ]], integer
    //      literals shared with the oracle so no libm cos crosses an
    //      engine boundary), median-threshold the 63 low-frequency AC
    //      coefficients. Classic robustness: uniform brightness
    //      shifts move ONLY the DC terms (rounded basis rows u ≥ 1
    //      sum to exactly 0), so the hash is bit-identical under
    //      them — OpsSpec pins that exactly, plus positive contrast
    //      scaling invariance of every threshold decision. Scale:
    //      map-only per-image decode+DCT (a few thousand integer
    //      multiplies each), pixels never leave the task — the same
    //      decode-locality contract as m03/m09. ----
    QuerySpec(
      "m23_phash",
      (s, d) => {
        import s.implicits._
        ahashDims(s, d).as[(Long, Int, Int)]
          .mapPartitions { rows =>
            rows.grouped(64).flatMap(_.map { case (id, w, h) =>
              decodeBmpPhash(id, encodeBmp(id, w, h))
            })
          }.toDF()
          .select(col("doc_id"), col("width"), col("height"),
            col("phash"))
          .orderBy("doc_id")
      },
      Some {
        val dctVals = (for (u <- 0 until 8; i <- 0 until 16)
          yield s"($u, $i, ${DctQ(u)(i)})").mkString(", ")
        s"""WITH dims AS (
        SELECT doc_id, CAST(8 + n_chars % 17 AS BIGINT) AS w,
               CAST(8 + (n_chars * 3) % 13 AS BIGINT) AS h
        FROM documents),
      g16 AS (
        SELECT doc_id, w, h, i, j,
          ((j * h) // 16) AS sy, ((i * w) // 16) AS sx
        FROM (SELECT doc_id, w, h, unnest(generate_series(0, 15)) AS i
              FROM dims) a,
          (SELECT unnest(generate_series(0, 15)) AS j) b),
      gpx AS (
        SELECT doc_id, i, j,
          (doc_id*19 + sx*23 + sy*29) % 256
            + (doc_id*11 + sx*13 + sy*17) % 256
            + (doc_id*7 + sx*3 + sy*5) % 256 AS gray
        FROM g16),
      dct(u, i, c) AS (VALUES $dctVals),
      tmp AS (
        SELECT g.doc_id, du.u, g.j, SUM(du.c * g.gray) AS t
        FROM gpx g JOIN dct du ON du.i = g.i
        GROUP BY 1, 2, 3),
      coef AS (
        SELECT t.doc_id, t.u, dv.u AS v, SUM(dv.c * t.t) AS cf
        FROM tmp t JOIN dct dv ON dv.i = t.j
        GROUP BY 1, 2, 3),
      med AS (
        SELECT doc_id, cf AS med FROM (
          SELECT doc_id, cf, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY cf) AS rn
          FROM coef WHERE NOT (u = 0 AND v = 0)) t
        WHERE rn = 32),
      hash AS (
        SELECT c.doc_id,
          CAST(SUM(CASE WHEN c.cf > m.med
            THEN CAST(1 AS BIGINT) << (c.u * 8 + c.v - 1)
            ELSE 0 END) AS BIGINT) AS phash
        FROM coef c JOIN med m USING (doc_id)
        WHERE NOT (c.u = 0 AND c.v = 0)
        GROUP BY 1)
      SELECT d.doc_id, CAST(d.w AS INT) AS width,
        CAST(d.h AS INT) AS height, h.phash
      FROM dims d JOIN hash h USING (doc_id)
      ORDER BY d.doc_id"""
      })
  )
}
