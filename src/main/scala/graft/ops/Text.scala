package graft.ops

import graft.{QuerySpec, Scoped, Spill, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis + deduplication over the `documents` table — the
  * training-data-pipeline extension layer (SURVEY §0 item 2): token
  * counting, quality scoring, language-ID, fingerprinting, exact and
  * near-duplicate detection (n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Scale notes (100 TB):
  *  - everything is per-row array math (whole-stage codegen'd HOFs) up
  *    to the dedup joins; no UDFs anywhere;
  *  - exact n-gram Jaccard self-joins shuffle on the shingle — fine at
  *    test SF, quadratic-ish on hot shingles at scale; the scale path
  *    is t09's MinHash+LSH: candidates come from equi-joining 24
  *    constant-size band buckets, then only candidates pay the exact
  *    verification join (the classic LSH design, e.g. Leskovec et al.,
  *    "Mining of Massive Datasets" ch.3);
  *  - t09's output is exact (LSH candidates -> exact Jaccard filter),
  *    so its oracle is the same brute-force SQL as t08 — the driver
  *    hash-match doubles as an LSH recall test.
  */
object Text {
  private val toks = split(col("text"), " ")

  /** The shared retrieval query set (t36 BM25, s18 hybrid RRF): three
    * queries of three terms each over the fixture vocabulary. */
  private[graft] val RetrievalQueryTerms: Seq[(Int, String)] = Seq(
    (1, "vector"), (1, "hash"), (1, "join"),
    (2, "stream"), (2, "window"), (2, "agg"),
    (3, "scan"), (3, "filter"), (3, "sort"))

  private[graft] def retrievalQueryValuesSql: String =
    RetrievalQueryTerms.map { case (q, t) => s"($q,'$t')" }.mkString(",")

  /** BM25 per-(query, doc) scores (k1=1.2, b=0.75) — the shared
    * scoring engine of t36 (lexical top-k) and s18 (hybrid fusion).
    * `queries` is a (qid, t) relation of any qid type; the token
    * explode joins the BROADCAST query vocabulary at the scan, so the
    * plan carries O(matching postings), never full-vocabulary state;
    * df/tf/length stats all derive from that pruned relation. The
    * per-doc sum is the decimal-exact [[dsum]] hop, so both the
    * ranking and the rounded score are engine-portable. Returns
    * (qid, doc_id, score). */
  private[graft] def bm25Scores(s: SparkSession, d: String,
      queries: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val lens = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // term frequency is ROW-LOCAL: the fused token_counts kernel
    // ([[graft.functions.TextExprs.TokenCounts]]) emits per-doc
    // (term, tf) map-side, so no (doc, token) occurrence relation
    // ever reaches an exchange — the semi-join to query terms then
    // prunes before anything shuffles
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.tokenCounts(toks)))
      .toDF("doc_id", "t", "tf")
      .join(broadcast(queries.select("t").distinct()), "t")
    tf
      .join(broadcast(tf.groupBy(col("t")).agg(count(lit(1)).as("df"))),
        "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(queries), "t")
      .select(col("qid"), col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("w"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(dsum128(col("w")).as("score"))
  }

  /** DuckDB twin of [[bm25Scores]] as a WITH-clause body ending in
    * `sc(qid, doc_id, score)` — splice as `WITH ${bm25SqlCtes}, ...`. */
  private[graft] def bm25SqlCtes: String =
    s"""q(qid, t) AS (VALUES $retrievalQueryValuesSql),
      lens AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT)
                 AS dl FROM documents),
      stats AS (SELECT COUNT(1) AS n,
                  CAST(SUM(dl) AS DOUBLE) / COUNT(1) AS avgdl FROM lens),
      tf AS (SELECT doc_id, t, COUNT(1) AS tf FROM (
               SELECT doc_id, unnest(str_split(text, ' ')) AS t
               FROM documents)
             WHERE t IN (SELECT t FROM q) GROUP BY 1, 2),
      dft AS (SELECT t, COUNT(1) AS df FROM tf GROUP BY 1),
      w AS (SELECT q.qid, tf.doc_id,
              ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / s.avgdl)) AS w
            FROM tf
            JOIN dft USING (t)
            JOIN lens USING (doc_id)
            JOIN q ON q.t = tf.t, stats s),
      sc AS (SELECT qid, doc_id, ${dsumSql("w")} AS score
             FROM w GROUP BY 1, 2)"""

  /** Distinct word 3-gram shingles of `text` as 64-bit hashes, fused
    * into one pass over the bytes ([[graft.functions.TextExprs
    * .ShingleHashes]]). The dedup queries only ever COUNT shingle-set
    * sizes and intersections, so hashing is transparent: counts on the
    * hash sets equal counts on the string sets up to 64-bit collisions
    * (~1e-7 across millions of shingles), the joins shuffle 8-byte
    * longs instead of ~40-byte strings, and the string form —
    * `array_distinct(transform(sequence(...), i =>
    * array_join(slice(split(text, " "), i, 3), " ")))` — never
    * materializes its token/slice/joined-string intermediates. */
  private[graft] val shingles: Column =
    graft.functions.TextExprs.shingleHashes(col("text"), 3)

  /** DuckDB equivalent of [[shingles]] as exploded (doc_id, s) rows. */
  private val shinglesSql =
    """SELECT DISTINCT doc_id, unnest(list_transform(
         generate_series(1, greatest(len(str_split(text, ' ')) - 2, 0)),
         i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
              || ' ' || str_split(text, ' ')[i+2])) AS s
       FROM documents"""

  /** Exact all-pairs 3-gram Jaccard >= `thr` — the oracle for both the
    * exact (t08) and the LSH-accelerated (t09) near-dup queries. */
  private def jaccardPairsSql(thr: Double) =
    s"""SELECT da, db, CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
       FROM (
         SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS ni
         FROM ($shinglesSql) a JOIN ($shinglesSql) b
           ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2) i
       JOIN (SELECT doc_id, COUNT(1) AS n FROM ($shinglesSql) GROUP BY 1) sa
         ON i.da = sa.doc_id
       JOIN (SELECT doc_id, COUNT(1) AS n FROM ($shinglesSql) GROUP BY 1) sb
         ON i.db = sb.doc_id
       WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= $thr
       ORDER BY da, db"""

  /** Exploded distinct (doc_id, shingle) relation — persisted (scope-
    * tracked): the dedup queries read it from three branches (sizes +
    * both sides of the pair join) and shingle extraction is the
    * expensive part. */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    Scoped.persist(Tables.documents(s, d)
      .select(col("doc_id"), explode(shingles).as("s")))

  /** Exact directed all-pairs containment ≥ 4/5 — t57's oracle. The
    * threshold compares in integers (5·ni ≥ 4·na) on both sides. */
  private def containmentPairsSql: String =
    s"""WITH sh AS ($shinglesSql),
       sz AS (SELECT doc_id, COUNT(1) AS na FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS ni
         FROM sh a JOIN sh b ON b.s = a.s AND b.doc_id <> a.doc_id
         GROUP BY 1, 2)
       SELECT da, db, CAST(na AS BIGINT) AS n_a,
         CAST(ni AS BIGINT) AS n_inter,
         CAST(ni AS DOUBLE) / na AS containment
       FROM inter JOIN sz ON sz.doc_id = da
       WHERE ni * 5 >= na * 4
       ORDER BY da, db"""

  /** Directed containment pairs at threshold num/den via the exact
    * prefix filter (see the t57 registration for the theorem). Runs
    * on rep-collapsed distinct texts; member expansion restores the
    * doc-level relation, identical texts containing each other both
    * ways (ni = na). */
  private def containmentPairs(s: SparkSession, d: String,
      num: Int, den: Int): DataFrame = {
    val (mapping, sizes, repPairs) = containmentRepCore(s, d, num, den)
    mapping.expandPairs(repPairs,
        sizes.select(col("doc_id").as("rep"), col("na"), col("na").as("ni")),
        directed = true)
      .select(col("da"), col("db"), col("na").cast("long").as("n_a"),
        col("ni").cast("long").as("n_inter"),
        (col("ni").cast("double") / col("na")).as("containment"))
  }

  /** The prefix-filter core shared by t57 and t69: returns (dup
    * mapping, rep sizes, verified rep-level directed pairs
    * (ra, rb, na, ni)). Callers decorate the REP pairs (scalars
    * only) and member-expand last — the copy-quadratic doc-level
    * relation must never carry arrays or ride extra joins (the t60
    * lesson, re-learned when t69's first cut joined its sketch
    * overlay onto the EXPANDED relation and cost 3.4× the exact
    * operator at sf10). */
  private def containmentRepCore(s: SparkSession, d: String,
      num: Int, den: Int): (Collapse.Mapping, DataFrame, DataFrame) = {
    val mapping = Collapse.texts(s, d)
    // shingle ARRAYS persist once: the exploded rows feed df counts,
    // prefixes, and candidate generation; the arrays verify candidate
    // pairs via one array_intersect row per pair (the lshRepPairs
    // shape) instead of re-exploding both sides' postings per pair
    val docsSh = Scoped.persist(mapping.reps
      .select(col("doc_id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0))
    val sh = Scoped.persist(
      docsSh.select(col("doc_id"), explode(col("sh")).as("s")))
    val sizes = docsSh.select(col("doc_id"), size(col("sh")).as("na"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // prefix size = na − ⌈num·na/den⌉ + 1, all-integer ceiling
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    val prefix = sh.join(dfreq, "s")
      .withColumn("rk", row_number().over(wDoc))
      .join(sizes, "doc_id")
      .filter(col("rk") <=
        col("na") - floor((col("na") * num + den - 1) / den) + 1)
      .select(col("doc_id").as("ra"), col("s"))
    val cand = prefix.join(sh.toDF("rb", "s"), "s")
      .filter(col("ra") =!= col("rb"))
      .select("ra", "rb").distinct()
    val repPairs = cand
      .join(docsSh.toDF("ra", "sha"), "ra")
      .join(docsSh.toDF("rb", "shb"), "rb")
      .select(col("ra"), col("rb"),
        graft.functions.TextExprs
          .sortedIntersectCount(col("sha"), col("shb")).as("ni"),
        size(col("sha")).as("na"))
      .filter(col("ni") * den >= col("na") * num)
      .select(col("ra"), col("rb"), col("na"), col("ni"))
    (mapping, sizes, repPairs)
  }

  /** Routing anchor for t08:
    * at/below this corpus size the registered query runs the exact
    * all-pairs shingle join (the oracle anchor the driver hash-checks
    * at its correctness SF, which sits under the bound by
    * construction); above it the SAME query routes through
    * [[lshJaccardPairs]] — candidate generation by band-bucket
    * equi-join, O(Σ posting²) never materialized — because one
    * boilerplate shingle shared by 1% of a 100 TB corpus makes the
    * exact inverted-index join quadratic. t09 binds the LSH path to
    * the identical exact oracle, so the routed output contract is
    * proven, not assumed. In production the routing flag is
    * configuration; the memoized row-count probe is the testbed
    * heuristic that keeps one registered query honest at both scales. */
  private[graft] val ExactAnchorRows = 1000L
  private val sizeMemo = new graft.SessionMemo[String, java.lang.Long]
  /** Memoized corpus row count, keyed by dir and versioned by the
    * `documents` fingerprint ([[docsVersion]]): a table REWRITTEN
    * within one session re-probes instead of returning the stale
    * count, and the superseded count is replaced, not kept beside the
    * new one. Every memo in this file carries the same version, so
    * the count AND the data reads behind t08/t12/t49 see the current
    * files (parquet count() is footer metadata only). */
  private def corpusRows(s: SparkSession, d: String): Long =
    sizeMemo.getOrCompute(s, d, docsVersion(s, d))(
      Tables.documents(s, d).count())

  /** The version of every memo derived from `d`'s documents. */
  private def docsVersion(s: SparkSession, d: String): Long =
    Tables.fingerprint(s, d, "documents")
  private[graft] def exactAnchor(s: SparkSession, d: String): Boolean =
    corpusRows(s, d) <= ExactAnchorRows

  /** The intra-group leg of a Jaccard pair expansion: two copies of
    * a text sit at exactly J = 1.0, but only for texts that shingle at
    * all (`shingled` = reps with ≥1 shingle; the uncollapsed join
    * emits nothing for shingle-less duplicates). */
  private def selfJaccard(shingled: DataFrame, thr: Double): DataFrame =
    shingled.withColumn("jaccard", lit(1.0)).filter(lit(1.0) >= thr)

  /** Exact near-dup pairs via shingle self-join over DISTINCT texts
    * only, members expanded back ([[Collapse.Mapping.expandPairs]]):
    * a member pair's J is its rep pair's. */
  private def exactJaccardPairs(s: SparkSession, d: String, thr: Double): DataFrame = {
    val mapping = Collapse.texts(s, d)
    val sh = Scoped.persist(mapping.reps
      .select(col("doc_id"), explode(shingles).as("s")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.toDF("ra", "s")
      .join(sh.toDF("rb", "s"), Seq("s"))
      .filter(col("ra") < col("rb"))
      .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("ni"))
    val repPairs = inter
      .join(sizes.toDF("ra", "na"), "ra")
      .join(sizes.toDF("rb", "nb"), "rb")
      .select(col("ra"), col("rb"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= thr)
    mapping.expandPairs(repPairs,
      selfJaccard(sizes.select(col("doc_id").as("rep")), thr))
  }

  // MinHash parameters: 72 permutations in 18 bands x 4 rows.
  // P(candidate | J) = 1-(1-J^4)^18: ~0.99992 at J=0.8 (recall),
  // ~0.2% at J=0.1 (false-candidate rate — 4-row bands keep the exact
  // verification join small).
  private val NumPerms = 72
  private val BandRows = 4
  private val NumBands = NumPerms / BandRows

  // Universal-hash mixers behind the 72 MinHash "permutations"
  // (h_j = (a_j·h + b_j) mod p over the 32-bit-masked shingle hash);
  // hoisted so the batch path and the streaming twin derive the
  // IDENTICAL signatures.
  private val HashP = 2147483647L // Mersenne prime 2^31-1
  private val (mixA, mixB) = {
    val rnd = new scala.util.Random(7)
    (Array.fill(NumPerms)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(NumPerms)(rnd.nextInt(Int.MaxValue).toLong))
  }

  // t10's 63 per-bit universal hashes over the token polyHash — its
  // own fixed-seed family (independent of the MinHash mixers), with
  // the (a, b) literals embedded in the oracle SQL so DuckDB derives
  // bit-identical signatures.
  private val (simhashA, simhashB) = {
    val rnd = new scala.util.Random(11)
    (Array.fill(63)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(63)(rnd.nextInt(Int.MaxValue).toLong))
  }

  // t60's calibration mixers: a PORTABLE signature family over the
  // shingle-string polyHash (not the XXH64 production hashes, which
  // DuckDB cannot replay) — its own seed, literals embedded in the
  // oracle like t10's.
  private val (calibA, calibB) = {
    val rnd = new scala.util.Random(13)
    (Array.fill(NumPerms)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(NumPerms)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** BPE merge rounds trained by t38 (bounded driver loop: one 1-row
    * collect per round). */
  private val BpeRounds = 12

  /** Learned BPE merges, memoized per (session, sfDir): t38 reports
    * the table, t40 applies it — training runs once either way. */
  private val bpeMemo =
    new graft.SessionMemo[String, Seq[(Int, String, String, String, Long)]]

  /** The learned (lhs, rhs) merge list in round order — t40's kernel
    * input and the ExprEquivSpec replay handle. */
  private[graft] def learnedMergePairs(s: SparkSession,
      d: String): Seq[(String, String)] =
    trainBpe(s, d).map(m => (m._2, m._3))

  /** t38's training loop (see the t38 scale notes). Returns one row
    * per round: (round, lhs, rhs, merged, weighted pair count). */
  private def trainBpe(s: SparkSession, d: String)
      : Seq[(Int, String, String, String, Long)] =
    bpeMemo.getOrCompute(s, d, docsVersion(s, d)) {
      val words = Scoped.persist(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f")))
      var state = words.select(
        concat(lit(" "), array_join(split(col("w"), ""), " "), lit(" "))
          .as("st"),
        col("f"))
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      for (r <- 1 to BpeRounds) {
        val best = state
          .select(col("f"), split(trim(col("st")), " ").as("toks"))
          .filter(size(col("toks")) > 1)
          .select(col("f"), explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("l"),
              element_at(col("toks"), i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("f")).as("c"))
          .orderBy(desc("c"), col("l"), col("r"))
          .limit(1).collect()(0)
        val (l, rgt, c) =
          (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r, l, rgt, l + rgt, c))
        state = state.select(
          replace(col("st"), lit(s" $l $rgt "), lit(s" $l$rgt "))
            .as("st"),
          col("f"))
      }
      merges.result()
    }

  /** DuckDB twin of t38's BPE training loop: `k` chained MATERIALIZED
    * CTE rounds over the word-frequency state, ending with the b1..bk
    * one-row best-pair relations in scope (shared by the t38 and t40
    * oracles). MATERIALIZED is load-
    * bearing — round r references round r-1 several times, and inlined
    * CTEs would re-expand the whole prefix exponentially. Merge
    * application is `replace(' l r ' -> ' lr ')` on the space-joined
    * symbol state: both engines scan left-to-right, non-overlapping,
    * resuming after each replacement, so greedy-application semantics
    * agree byte-for-byte.
    *
    * KNOWN DEVIATION from canonical Sennrich (2016) BPE: the string
    * replace consumes the trailing space shared with the next pair,
    * so a repeated-symbol run like `aaaa` becomes [aa, a, a] rather
    * than the canonical re-pairing greedy [aa, aa], and training
    * pair counts inherit the same skew on such runs. Both engines
    * (Spark `replace` kernel and DuckDB `replace`) implement the
    * identical scan-resume semantics, which is what the hash-match
    * certifies; callers needing canonical behavior should apply
    * merges pair-wise over a token array (re-pairing after each
    * merge) at ~2× the kernel cost.
    */
  private def bpeTrainCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
      SELECT w, COUNT(1) AS f FROM (
        SELECT unnest(str_split(text, ' ')) AS w FROM documents) u
      WHERE len(w) > 0 GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT ' ' || array_to_string(str_split(w, ''), ' ') || ' ' AS st, f
      FROM w0)"""
    for (r <- 1 to k) {
      sb ++= s""",
    b$r AS MATERIALIZED (
      SELECT l, rgt, c FROM (
        SELECT l, rgt, CAST(SUM(f) AS BIGINT) AS c FROM (
          SELECT f, toks[i] AS l, toks[i+1] AS rgt FROM (
            SELECT f, str_split(trim(st), ' ') AS toks,
              unnest(generate_series(1,
                len(str_split(trim(st), ' ')) - 1)) AS i
            FROM s${r - 1}) t) pp
        GROUP BY 1, 2) g
      ORDER BY c DESC, l, rgt LIMIT 1),
    s$r AS MATERIALIZED (
      SELECT replace(st, ' ' || b.l || ' ' || b.rgt || ' ',
                     ' ' || b.l || b.rgt || ' ') AS st, f
      FROM s${r - 1}, b$r b)"""
    }
    sb.toString
  }

  /** t38 oracle: the training CTEs + the merge table itself. */
  private def bpeOracleSql(k: Int): String =
    bpeTrainCtes(k) +
      "\nSELECT * FROM (" + (1 to k).map { r =>
        s"SELECT CAST($r AS INT) AS merge_round, l AS lhs, rgt AS rhs, " +
          s"l || rgt AS merged, c AS pair_count FROM b$r"
      }.mkString(" UNION ALL ") + ") ORDER BY merge_round"

  /** t40 oracle: the training CTEs + per-document application — the
    * same ' l r ' -> ' lr ' replace chain over each doc's symbol
    * state, word boundaries guarded by a '|' symbol no learned pair
    * can contain (training states are per-word). */
  private def bpeTokenizeSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeTrainCtes(k)
    sb ++= """,
    d0 AS MATERIALIZED (
      SELECT doc_id, text, ' ' || array_to_string(list_transform(
          list_filter(str_split(text, ' '), w -> len(w) > 0),
          w -> array_to_string(str_split(w, ''), ' ')), ' | ') || ' '
        AS st
      FROM documents)"""
    for (r <- 1 to k) {
      sb ++= s""",
    d$r AS MATERIALIZED (
      SELECT doc_id, text,
        replace(st, ' ' || b.l || ' ' || b.rgt || ' ',
                ' ' || b.l || b.rgt || ' ') AS st
      FROM d${r - 1}, b$r b)"""
    }
    sb ++= s"""
    SELECT doc_id,
      CAST(len(list_filter(str_split(trim(st), ' '), t -> t <> '|'))
        AS INT) AS n_tokens,
      CAST(len(replace(text, ' ', '')) AS INT) AS n_chars,
      CAST(len(replace(text, ' ', '')) AS DOUBLE) /
        len(list_filter(str_split(trim(st), ' '), t -> t <> '|'))
        AS chars_per_token
    FROM d$k ORDER BY doc_id"""
    sb.toString
  }

  /** LSH band keys `(doc_id, band, bh)` of a `(doc_id, text)`
    * relation — one row per (doc, band), bh = 64-bit hash of the
    * band's 4 MinHash rows. A pure stateless projection (fused
    * shingle+signature codegen, no shuffle), which is what makes it
    * legal on a STREAMING DataFrame: the streaming near-dup twin
    * ([[graft.streaming.Streams.lshCandidatePairs]]) applies this
    * very column pipeline to the stream and keys its state store by
    * the output, guaranteeing stream and batch bucket identically. */
  def lshBandKeys(docs: DataFrame): DataFrame =
    lshBandKeysFromSh(docs
      .select(col("doc_id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0))

  /** Document-frequency ceiling on a band bucket — the batch twin of
    * the streaming admission cap ([[graft.streaming.Streams]]
    * `lshCandidatePairs`, 4096/bucket): dup-collapse kills buckets
    * made hot by IDENTICAL texts, but a boilerplate run of shingles
    * shared across DISTINCT docs (license headers, templated
    * prefaces) still drives whole bands to a common key, and an
    * uncapped self-join on that bucket is |bucket|². */
  private[graft] val BandBucketCap = 4096

  /** Candidate pairs from band keys with the bucket ceiling applied:
    * only the `cap` HIGHEST doc ids of a bucket are join RESIDENTS;
    * every member then pairs with the residents above it (da < db,
    * exactly the multiplicity of the uncapped self-join when the
    * bucket is at/below cap — the natural-corpus case at every gate
    * SF), so a hot bucket emits ≤ cap·|bucket| candidates instead of
    * |bucket|².
    *
    * What a BINDING cap trades, precisely (the streaming twin's
    * admission-cap trade, made explicit): a bucket above the default
    * cap means ≥4096 DISTINCT texts agree on the same 4 MinHash
    * minima — a dup-collapse-escaping boilerplate cluster. Pairs
    * whose similarity is carried by shingles OUTSIDE the cluster's
    * shared content still surface through their other bands (at
    * J=0.8, a band agreeing on ≥1 non-shared minimum happens with
    * per-band probability ≈ 0.41·(1−f⁴) for shared-content fraction
    * f, ~1 over 18 bands for f ≤ 0.9); pairs whose similarity IS the
    * shared content thin to member↔resident edges. That preserves
    * CLUSTER CONNECTIVITY — every member keeps ≥cap verified edges
    * into the resident hub, so t12/t49 dedup groups are unchanged —
    * while the exhaustive pair list (the t08/t09 contract) loses
    * intra-cluster non-resident pairs. The OpsSpec adversarial test
    * (boilerplate block in 30% of docs) pins all three: bounded
    * candidates under a binding cap, exact pairs at the default cap,
    * identical dedup components under the binding cap. */
  private[graft] def lshBandCandidates(bands: DataFrame,
      cap: Int = BandBucketCap): DataFrame = {
    val ranked = bands
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("band"), col("bh"))
          .orderBy(col("doc_id").desc)))
    // a BINDING cap is observable, never silent: the observation
    // counts ceiling-hit buckets + dropped rows in the same pass and
    // the session listener WARNs (CapMetrics)
    val residents = CapMetrics
      .observeCapDrops(ranked, "rk", cap, "shingle-band")
      .filter(col("rk") <= cap)
      .drop("rk")
    bands.toDF("da", "band", "bh")
      .join(residents.toDF("db", "band", "bh"), Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** Band keys from an already-shingled `(doc_id, sh)` relation (the
    * batch path persists that relation for verification reuse). */
  private def lshBandKeysFromSh(docsSh: DataFrame): DataFrame = {
    val withSig = docsSh.withColumn("sig",
      graft.functions.TextExprs.minHashSig(
        col("sh"), mixA.toSeq, mixB.toSeq, HashP))
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * BandRows + 1, BandRows)).as("bh"))
    }
    withSig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bh").as("bh"))
  }

  /** Pointer-jump rounds per CC generation. A jump contracts
    * label-pointer chains (lbl := lbl(lbl)); measured at sf0.1 (r15,
    * s12's 920-edge cosine graph) EXTRA jumps buy nothing — 1, 2, 3
    * and 4 jumps all converge in the same generation count, because
    * on randomly-id'd threshold graphs the min propagates along
    * EDGES (each node's label is usually already a local minimum
    * whose own label is itself), so hops, not jumps, are the
    * binding resource. One jump stays: it is what keeps worst-case
    * convergence O(log diameter) on adversarial id layouts (long
    * monotone chains) for one cheap label-side self-join. */
  private val CcJumps = 1

  /** Edge-hop rounds per CC generation. The min label travels one
    * edge per hop; chaining [[CcHops]] hops inside one generation
    * moves it that many edges per SCHEDULED generation, dividing the
    * generation count (and with it the per-generation fixed costs:
    * job scheduling, checkpoint materialization, the convergence
    * action — the dominant CC cost at every bench SF) while keeping
    * the total join work identical. At 100 TB the trade is explicit:
    * k hops per generation join the edge relation k times between
    * checkpoints, but the generation count — and the number of
    * label-table materializations — drops by the same k. The r16
    * sweep over 1–4 hops (OPTIMIZATION_r16.md) fixed 3. */
  private val CcHops = 3

  /** Min-label propagation to fixpoint over an undirected edge list
    * `(da, db)` — the connected-components engine shared by t12
    * (shingle near-dup clustering) and s12 (embedding semantic dedup,
    * [[Similarity]]). Returns `(doc_id, lbl)` for every node appearing
    * in an edge; lbl = the component's minimum node id. Per
    * generation: [[CcHops]] edge⨝label hop joins (each a min-agg) +
    * [[CcJumps]] pointer jumps. Three r15 structural choices (each behavior-
    * preserving — the fixpoint is the unique per-component minimum
    * either way):
    *  - SELF-LOOPS ride the edge relation, so the hop's min covers
    *    the node's own label and the old per-generation labels⨝hop
    *    "stepped" join is gone (one fewer shuffle join per
    *    generation; self-loop multiplicity is harmless under min);
    *  - the edge relation is hash-partitioned on the hop key (`db`)
    *    BEFORE its one-time checkpoint, and the checkpoint preserves
    *    that partitioning, so generations re-shuffle only the label
    *    table — the corpus-sized edge relation crosses the network
    *    once per CC run, not once per generation (guide §2.4);
    *  - convergence is the MONOTONE LABEL SUM: labels only ever
    *    decrease, so Σlbl (exact decimal, no overflow) is strictly
    *    decreasing until the fixpoint, and the 1-row agg that reads
    *    it is the same action that materializes the generation's
    *    lazy checkpoint — no `changed` column, no prev-vs-next join.
    * Each generation is checkpointed and the previous one dropped
    * immediately — at 100 TB the label table is O(corpus) and 20
    * pinned generations would not fit; that unpersist point is also
    * where a cluster run would checkpoint to truncate lineage. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint, not persist: a persisted edge relation caches
    // its BLOCKS but keeps its logical plan, and every generation's
    // joins re-analyze/re-optimize that full lineage on the driver —
    // for LSH-sourced pairs (s15) that plan is the entire bucketed
    // candidate pipeline, and the re-planning alone dominated CC wall
    // time at sf0.1 (9.1 s → 1.5 s for the same 805 edges when the
    // lineage is truncated to a leaf scan). Lazy: the init groupBy
    // materializes it on the first action.
    val sym = pairs
      .unionAll(pairs.select(col("db").as("da"), col("da").as("db")))
    // self-loops (da, da): under the hop's min-agg they contribute the
    // node's OWN label, replacing the old stepped join; duplicates
    // (one per incident edge) are free under min, so no distinct pass
    val edges = sym
      .unionAll(sym.select(col("da"), col("da").as("db")))
      .repartition(col("db"))
      .localCheckpoint(false)
    // init: min over the closed neighborhood (self-loops included) =
    // least(own id, min neighbor id) in one agg
    var labels = edges.groupBy(col("da").as("doc_id"))
      .agg(min(col("db")).as("lbl"))
      .localCheckpoint(false)
    // monotone-sum convergence state: labels only decrease, so the
    // exact decimal sum is strictly decreasing until the fixpoint
    // (node ids < 2^63, count ≤ 2^63 ⇒ Σ < 10^38: decimal-exact)
    def labelSum(df: DataFrame): (Option[java.math.BigDecimal], Long) = {
      val r = df.agg(
        sum(col("lbl").cast(org.apache.spark.sql.types
          .DecimalType(38, 0))).as("s"),
        count(lit(1)).as("n")).head()
      (Option(r.getDecimal(0)), r.getLong(1))
    }
    // the init agg both materializes the lazy checkpoints (edges +
    // labels) and seeds the convergence sum
    var prevSum = labelSum(labels)
    var converged = prevSum._2 == 0L // empty graph: already done
    var iters = 0
    while (!converged && iters < 30) {
      // Each generation is a LAZY localCheckpoint, not a mere persist:
      // the hop+jump plan references `labels` several times, so
      // without lineage truncation the logical plan MULTIPLIES per
      // iteration and the analyzer runs out of driver heap long
      // before any data does. LAZY because every generation is
      // immediately materialized by its convergence agg — an eager
      // checkpoint would run a SECOND job per generation just to
      // write the same blocks (measured ~25% of CC wall time at
      // sf0.1 across t12/s12/s15).
      // CcHops hops through the edges: per hop, min label over the
      // closed neighborhood (self-loops carry the node's own label)
      var cur = labels
      for (_ <- 1 to CcHops) {
        cur = edges
          .join(cur.select(col("doc_id").as("db"),
            col("lbl").as("nlbl")), "db")
          .groupBy(col("da"))
          .agg(min(col("nlbl")).as("lbl"))
          .select(col("da").as("doc_id"), col("lbl"))
      }
      // POINTER JUMPS (label contraction): adopt the label OF the
      // label, CcJumps times. Edge hops alone converge in
      // O(component diameter) sequential generations; each jump
      // roughly squares the reachable distance.
      for (_ <- 1 to CcJumps) {
        val j = cur.select(col("doc_id").as("jid"), col("lbl").as("jlbl"))
        cur = cur.join(j, col("lbl") === col("jid"), "left")
          .select(col("doc_id"),
            least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
      }
      val next = cur.localCheckpoint(false)
      // the 1-row sum agg both decides convergence AND materializes
      // the lazy checkpoint — one job per generation total
      val curSum = labelSum(next)
      converged = curSum == prevSum
      prevSum = curSum
      // generation g is DEAD the moment g+1's blocks exist: free it
      // NOW instead of waiting for the context cleaner, which only
      // fires on a driver GC. Round-10 forensics: per-generation
      // blocks from the per-run CC callers (m10/s12/s15) accreted
      // across bench rounds and showed up as monotone slowdowns in
      // the allocation-heavy t-family (t09 1.51→2.19 s over three
      // in-JVM rounds); explicit reclamation is deterministic.
      Scoped.dropCheckpoint(labels)
      labels = next
      iters += 1
    }
    Scoped.dropCheckpoint(edges)
    // a silently-unconverged result would under-merge components —
    // refuse loudly instead (cap 30 covers diameter ~2^30 with the
    // jumps; nothing real gets here)
    require(converged, s"connectedComponents did not converge in $iters")
    // the FINAL generation's blocks back the returned labels: they
    // must survive the caller's reads but not the query — release
    // them with the query scope. Callers that outlive a query
    // (session memos) spill EAGERLY downstream (Spill parquet),
    // so their lineage never reaches back into these blocks.
    Scoped.trackCheckpoint(labels)
  }

  /** Session-memoized near-dup cluster labels over the LSH pair
    * graph, keyed by (sf dir, threshold): t12 and t49 — and any
    * future survivorship/rewrite policy — share ONE
    * LSH + connected-components computation per session instead of
    * each re-running the full pair pipeline (~2 s each at sf0.1).
    * Reuse is COMPUTE reuse, not merely plan reuse: the value is a
    * parquet-spilled leaf scan ([[graft.Spill.relations]]). Spill
    * held is O(labels) = O(docs that appear in a pair) per (dir, thr)
    * for the session's lifetime — the same bounded-model trade as the
    * coded ANN tables ([[graft.ops.Similarity]] `codedMemo`). */
  private val dupLabelsMemo = Spill.relations[(String, Double)]

  private[graft] def dupClusterLabels(s: SparkSession, d: String,
      thr: Double): DataFrame =
    dupLabelsMemo.getOrCompute(s, (d, thr), docsVersion(s, d))(Spill.write {
      // Cluster at REPRESENTATIVE level, then propagate through the
      // dup mapping — identical labels to CC over the expanded member
      // pairs (OpsSpec pins the equivalence), at collapsed cost. Why
      // equal: a rep IS its group's minimum doc id, so the min member
      // id of a mixed component equals the min rep id — exactly the
      // rep-level CC label; and a doc appears in some expanded edge
      // iff its (shingled) group has ≥2 members (intra pairs at
      // J=1.0 ≥ thr) or its rep sits in a cross-group pair. Why it
      // matters: under heavy duplication the expanded graph is
      // Σ|group|² edges (the sf10 rehearsal's 100-way dup corpus put
      // 24.7M edges under CC, 66 s cold) while the rep graph is the
      // verified pair list over DISTINCT texts (~10² edges, CC in
      // well under a second) — the label join back is one broadcast-
      // able O(members) hop.
      val (mapping, docsSh, repPairs) = lshRepPairs(s, d, thr)
      val repLabels = connectedComponents(
        repPairs.select(col("ra").as("da"), col("rb").as("db")))
      val eligible = mapping.reps.select(col("rep"), col("m"))
        .join(docsSh.select(col("doc_id").as("rep")), "rep")
        .join(repLabels.toDF("rep", "crossLbl"), Seq("rep"), "left")
        .filter(col("m") >= 2 || col("crossLbl").isNotNull)
        .select(col("rep"),
          coalesce(col("crossLbl"), col("rep")).as("lbl"))
      mapping.toMembers(eligible).select(col("doc_id"), col("lbl"))
      // the spill materializes this EAGERLY at compute (parquet): the
      // memo outlives the computing query while the CC labels it
      // reads are query-scoped (released by the harness) — a lazy
      // value first acted on in a LATER query would reach back into
      // freed blocks.
    })._2

  /** Near-dup pairs via MinHash+LSH with exact verification — same
    * output as [[exactJaccardPairs]] (candidate recall ~0.99992 at
    * J=0.8), found without the all-pairs shingle join. Shared by t09
    * and t12 (the clustering runs on the scale path's pairs). */
  private[graft] def lshJaccardPairs(s: SparkSession, d: String,
      thr: Double, bucketCap: Int = BandBucketCap): DataFrame = {
    val (mapping, docsSh, scored) = lshRepPairs(s, d, thr, bucketCap)
    mapping.expandPairs(scored,
      selfJaccard(docsSh.select(col("doc_id").as("rep")), thr))
  }

  private val pairsMemo = Spill.relations[(String, Double)]

  /** Session-memoized rep-level LSH band keys `(rep, band, bh)` over
    * the shingled duplicate representatives — the 72-perm MinHash
    * signature pass shared by t09 (candidate generation), t12 (its
    * clustering rides t09's pairs), and t39 (cross-split candidates:
    * a doc's band keys ARE its rep's, since identical text gives an
    * identical shingle set and signature). One sig pass per (session,
    * dir) instead of one per query. Parquet-spilled
    * ([[graft.Spill.relations]]): eager at compute because the inputs are
    * query-scoped persists; consumers run a plain file scan, any
    * executor can read it, and a swept spill recomputes. Size is
    * O(shingled reps × 18 bands) — three longs per row. */
  private val repBandKeysMemo = Spill.relations[String]
  private[graft] def repBandKeys(s: SparkSession, d: String): DataFrame =
    repBandKeysMemo.getOrCompute(s, d, docsVersion(s, d))(
      Spill.write(buildRepBandKeys(s, d)))._2

  /** The (un-memoized, un-checkpointed) construction behind
    * [[repBandKeys]] — ONE builder shared with the PlanSpec hook so
    * the pinned plan can never drift from the plan the memo
    * executes. */
  private def buildRepBandKeys(s: SparkSession, d: String): DataFrame = {
    val docsSh = Collapse.texts(s, d).reps
      .select(col("doc_id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0)
    lshBandKeysFromSh(docsSh)
  }

  /** The un-memoized [[repBandKeys]] construction's physical plan —
    * spec hook: the memo VALUE is a spill-file scan, so PlanSpec pins
    * the fused kernels (shingle_hashes → minhash_sig) on the plan
    * that BUILDS the relation — [[buildRepBandKeys]], the same
    * builder the memo checkpoints. On a corpus with duplicates it
    * registers the mapping's scope-tracked persist; the caller
    * releases. */
  private[graft] def repBandKeysPlanForSpec(s: SparkSession,
      d: String): String =
    buildRepBandKeys(s, d).queryExecution.executedPlan.toString

  /** Session-memoized t60 calibration signatures at the REP level —
    * the PORTABLE 72-perm family over the shingle-string polyHash
    * (a duplicate's signature is bit-identical to its
    * representative's), through the fused
    * [[graft.functions.TextExprs.NgramPolyHashes]] kernel — the
    * declarative form materialized a token array, joined shingle
    * strings, and a distinct pass per row (the t43 lesson), and was
    * re-paid by every bench round. Duplicates kept in the kernel
    * output: the 72 minima over the window multiset equal those over
    * the distinct set, which is also why the DuckDB twin's MIN over
    * exploded DISTINCT shingle strings agrees. Cached at rep (not
    * doc) granularity so the memo holds O(distinct texts × 72)
    * longs, never O(corpus); t60 keeps even its AGREEMENT compute at
    * rep granularity and expands through the dup mapping. Same
    * spill-backed lifetime as [[repBandKeys]]. */
  private val calibSigMemo = Spill.relations[String]
  private[graft] def calibRepSigs(s: SparkSession, d: String): DataFrame =
    calibSigMemo.getOrCompute(s, d, docsVersion(s, d))(Spill.write(
      Collapse.texts(s, d).reps
        .select(col("rep"),
          graft.functions.TextExprs.minHashSig(
            graft.functions.TextExprs.ngramPolyHashes(col("text"), 3),
            calibA.toSeq, calibB.toSeq, HashP).as("sig"))))._2

  /** Session-memoized doc-level near-dup pair relation (da, db,
    * jaccard ≥ thr), routed exact/LSH by the anchor — t08, t60
    * (calibration) and t61 (source matrix) share ONE pair computation
    * per (dir, thr) instead of each re-running shingling + candidate
    * generation + verify (~2.4 s each at sf0.1). The memoized frame
    * is an EAGER parquet spill ([[graft.Spill.relations]] —
    * materialized at compute, its inputs are query-scoped); consumers
    * scan the spill — compute reuse, the [[dupLabelsMemo]] convention.
    * Spill held is O(pairs) per (dir, thr) for the session. */
  private[graft] def jaccardPairs(s: SparkSession, d: String,
      thr: Double): DataFrame =
    pairsMemo.getOrCompute(s, (d, thr), docsVersion(s, d))(Spill.write(
      if (exactAnchor(s, d)) exactJaccardPairs(s, d, thr)
      else lshJaccardPairs(s, d, thr)))._2

  /** t63's hashed-bigram bucket rows (doc_id, source, b): word
    * bigrams via the portable polyHash mod B=1024, computed by the
    * fused single-pass [[graft.functions.TextExprs.BigramBuckets]]
    * kernel (the declarative transform-over-split form re-evaluated
    * the split per lambda element — O(n²) per doc, 4.4 s at sf0.1;
    * the kernel hashes each bigram in place over the original char
    * span, bit-identical values). Scope-persisted: the DSIR query
    * reads it from three branches (target histogram, raw histogram,
    * per-doc counts). */
  /** The raw per-bigram bucket rows, map-only and cached. r16 note
    * (§1.1): a pre-aggregated (doc, b) count variant was built and
    * MEASURED — sf0.1 1.17→1.64 s, sf1 4.45→4.94 s — and reverted:
    * short docs rarely repeat a bucket, so the "reduction" shuffle
    * moved ≈the whole corpus for nothing. The win that survived is in
    * [[dsirLambda]]: one conditional-sum pass over this cache instead
    * of two filtered passes. */
  private[graft] def dsirBucketRows(s: SparkSession, d: String): DataFrame =
    Scoped.persist(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExprs.bigramBuckets(col("text"), 1024))
          .as("b")))

  /** t63's per-bucket log-ratio table λ_b = ln p_target(b) − ln
    * p_raw(b) (Laplace +1 both sides, rounded once at 9). Built over
    * the full 0..B−1 spine: buckets unseen on either side still need
    * their smoothed λ — a candidate doc may hash into them. */
  private[graft] def dsirLambda(s: SparkSession, rows: DataFrame,
      tgt: String): DataFrame = {
    // ONE pass over the cached bucket rows: both sides of λ are
    // conditional sums under the same groupBy(b) (≤1024 groups,
    // map-side partials do all the work) — the r15 shape scanned the
    // cache twice, once per filtered side (§2.3)
    val cnt = Scoped.persist(rows.groupBy(col("b")).agg(
      sum(when(col("source") === tgt, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= tgt, 1L).otherwise(0L)).as("cr")))
    // a bucket unseen on a side contributed NULL (→ coalesce 0) in
    // the r15 two-join form; here it carries an explicit 0 — same +1
    // smoothing input. One ≤1024-row total aggregate replaces the two
    // per-side scalar passes.
    val tot = cnt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"),
      coalesce(sum(col("cr")), lit(0L)).as("nr"))
    s.range(1024).select(col("id").as("b"))
      .join(cnt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + 1) * (col("nr") + 1024))
            .cast("double") /
          ((coalesce(col("cr"), lit(0L)) + 1) * (col("nt") + 1024))
            .cast("double")), 9).as("lam"))
  }

  private val dsirMemo = new graft.SessionMemo[(String, String), Array[Double]]

  /** The trained λ table as a dense 1024-double array — the DSIR
    * "model" a deployment ships to its gate (streaming twin:
    * [[graft.streaming.Streams.dsirGate]]). Memoized like
    * [[lrModel]]; the collect is B rows, bounded by construction. */
  def dsirLambdaArray(s: SparkSession, d: String,
      tgt: String = "src0"): Array[Double] =
    dsirMemo.getOrCompute(s, (d, tgt), docsVersion(s, d)) {
      val rows = dsirBucketRows(s, d)
      val out = new Array[Double](1024)
      dsirLambda(s, rows, tgt).collect()
        .foreach(r => out(r.getLong(0).toInt) = r.getDouble(1))
      rows.unpersist(blocking = false)
      out
    }

  /** Row-local DSIR weight of one document under a trained λ array —
    * bit-identical to t63's distributed dsum: per-bucket counts via
    * the same polyHash buckets, each term c·λ_b pushed through the
    * SAME decimal(·,10) HALF_UP hop Spark's double→decimal cast
    * applies (BigDecimal.valueOf = the shortest-string conversion
    * Spark's Decimal(double) uses), summed exactly, one correctly-
    * rounded cast back. Order-independent, so a streaming gate scores
    * every doc exactly as the batch query would. */
  def dsirWeight(text: String, lam: Array[Double]): Double = {
    val ts = text.split(" ", -1)
    val counts = new java.util.HashMap[Int, Int]()
    var i = 0
    while (i < ts.length - 1) {
      val b = (graft.functions.TextExprs.polyHash(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(ts(i) + " " + ts(i + 1)), 31L, 1000000007L)
        % 1024L).toInt
      counts.merge(b, 1, (a, x) => a + x)
      i += 1
    }
    var acc = java.math.BigDecimal.ZERO
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      acc = acc.add(java.math.BigDecimal
        .valueOf(e.getValue.toDouble * lam(e.getKey))
        .setScale(10, java.math.RoundingMode.HALF_UP))
    }
    acc.doubleValue()
  }

  /** The representative-level stage of [[lshJaccardPairs]]:
    * (dup mapping, shingled reps, verified rep pairs ≥ thr). Shared
    * with [[dupClusterLabels]], which clusters BEFORE the member
    * expansion. */
  private def lshRepPairs(s: SparkSession, d: String, thr: Double,
      bucketCap: Int = BandBucketCap)
      : (Collapse.Mapping, DataFrame, DataFrame) = {
    // exact-collapse first, like t08: identical texts share every
    // band key, so duplicates make the bucket join quadratic; the
    // band join runs on distinct texts and members expand back in
    val mapping = Collapse.texts(s, d)
    val docsSh = Scoped.persist(mapping.reps
      .select(col("doc_id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0)
    ) // read by the sig pipeline + both verify branches
    // the shingles are already 64-bit hashes; [[lshBandKeysFromSh]]
    // derives the 72 permuted minima with the universal hash family
    // h_j = (a_j·h + b_j) mod p, p = 2^31-1 (MinHashSig masks h to
    // 32 bits; the mod keeps the map non-monotonic, a_j·h stays
    // under 2^63 so ANSI mode sees no overflow) — all 72 minima in
    // ONE fused-codegen pass over sh (the declarative 72 ×
    // array_min(transform(...)) walked the array 72 times and was
    // 28% of the whole bench).
    // no distinct on the band keys: [[repBandKeys]] emits EXACTLY
    // one row per (doc, band) by construction (one explode element
    // per band), so a distinct here is a full 2-long+1-int shuffle
    // and an exchange barrier for a provable no-op — at the
    // rep-collapsed row counts the scheduling overhead of that extra
    // stage was ~15% of t09's steady-state wall time.
    // The band keys themselves come from the session memo: one 72-
    // perm signature pass per (session, dir), shared with t39's
    // cross-split candidate generation instead of re-run per query.
    val cands = lshBandCandidates(repBandKeys(s, d), bucketCap)
    // persist barrier on the VERIFIED rep pairs (the t65 lesson): the
    // array_intersect verification is the expensive projection here,
    // and downstream consumers re-execute this sub-plan — the member
    // expansion joins read it per branch, and t09's orderBy runs a
    // range-partitioner SAMPLING pass that executes the child twice.
    // The barrier pins one verification per candidate rep pair.
    val scored = Scoped.persist(cands.toDF("ra", "rb")
      .join(docsSh.toDF("ra", "sha"), "ra")
      .join(docsSh.toDF("rb", "shb"), "rb")
      .select(col("ra"), col("rb"),
        graft.functions.TextExprs
          .sortedIntersectCount(col("sha"), col("shb")).as("ni"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
      .select(col("ra"), col("rb"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= thr))
    (mapping, docsSh, scored)
  }

  /** Scale path for t14 decontamination: probe a BLOOM FILTER of the
    * benchmark shingles instead of joining the exact distinct set —
    * ~bits-per-key memory independent of shingle bytes, per-row ANY
    * probe (`exists` over the shingle array, short-circuiting), no
    * join at all. One-sided error: a flagged doc may be clean (rate ≈
    * fpp × shingles-per-doc — size fpp against the PER-DOC probe
    * count, not per key; the default 1e-6 keeps per-doc false flags
    * ~0.1%), but a clean verdict is guaranteed, so dropping flagged
    * docs never leaks contamination. Real pipelines route the flagged
    * minority to the exact t14 join as a verify pass. OpsSpec asserts
    * flagged ⊇ exact with bounded excess. */
  def decontaminateBloom(s: SparkSession, d: String,
      fpp: Double = 1e-6): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), shingles.as("sh"))
    val benchSh = docs.filter(col("doc_id") % 17 === 0)
      .select(explode(col("sh")).as("s")).distinct()
    // built distributed (per-partition sketches merged), shipped to
    // executors as one reference object
    val bloom = benchSh.stat.bloomFilter("s",
      math.max(benchSh.count(), 1L), fpp)
    docs.filter(col("doc_id") % 17 =!= 0)
      .filter(exists(col("sh"), sh =>
        graft.functions.SketchExprs.bloomMightContain(sh, bloom)))
      .select(col("doc_id"))
  }

  // ---- model-based quality/language filtering (the fastText-style
  //      linear classifier of CCNet / RefinedWeb / DCLM curation
  //      stacks, trained and applied IN the engine) ----

  /** Trained logistic-regression models, memoized per session like the
    * k-means/PQ models in [[Similarity]]: the (F+3)-dim weight vector,
    * the per-iteration losses, and the label threshold — never data. */
  /** One per-language trigram profile: the t05 "model". */
  final case class LangProfile(lang: String, ptgs: Seq[String])

  private val langProfMemo = new graft.SessionMemo[String, Seq[LangProfile]]

  /** Top-20 character-trigram profiles per language, TRAINED ONCE per
    * (session, dir) — the offline half of t05's train/classify split
    * (same adjudication as the memoized k-means centroids and LR
    * weights: the model is bounded — langs × 20 trigrams — and the
    * recurring workload is classification, which stays a map-only
    * scan against the literal profile row). Training is one
    * explode→partial-agg pass with a deterministic (cnt DESC, tg)
    * tie-break, identical to the oracle's rank. */
  /** t05's confusion relation (lang, pred_lang, n): classify every
    * doc by fused profile-overlap argmax, count per (true, predicted)
    * pair. CharNGrams extracts each doc's DISTINCT trigrams in one
    * fused pass (kept as strings: the profile rank tie-breaks on the
    * trigram itself, which hashing would scramble); all profiles
    * ride INSIDE one codegen'd expression
    * ([[graft.functions.TextExprs.ProfileArgmax]]) so classification
    * is one hash pass per row. Strict `>` keeps the FIRST (smallest)
    * lang on ties, matching the oracle's (score DESC, lang ASC)
    * rank; docs overlapping no profile are dropped like the oracle's
    * inner join. Shared by t05 (raw confusion) and t47 (metrics). */
  private def langConfusion(s: SparkSession, d: String): DataFrame = {
    val best = graft.functions.TextExprs.profileArgmax(
      graft.functions.TextExprs.charNGrams(col("text"), 3),
      langProfiles(s, d).map(p => p.lang -> p.ptgs))
    // collapsed per text: the argmax is a pure function of the text,
    // so each member contributes its OWN true lang to the confusion
    // cell under its rep's prediction (identical text ⇒ identical
    // pred_lang and identical score-0 drop). Persist barrier on both
    // paths: without it Catalyst substitutes the aliased struct into
    // the score filter and the argmax runs TWICE per row (pushed
    // Filter + Project — the guide §4.4 duplication).
    Collapse.texts(s, d, Seq("lang"))
      .perText(Seq("lang"), Seq(best.as("best")), barrier = true)
      .filter(col("best.score") > 0)
      .groupBy(col("lang"), col("best.pl").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** The t05 confusion relation as a DuckDB CTE chain ending in
    * `conf(lang, pred_lang, n)` — shared by the t05 and t47 oracles. */
  private val langConfusionCtes = """tri AS (
        SELECT DISTINCT doc_id, lang, unnest(list_transform(
          generate_series(1, greatest(LENGTH(text) - 2, 0)),
          i -> substr(text, i, 3))) AS tg
        FROM documents),
      profiles AS (
        SELECT lang AS profile_lang, tg FROM (
          SELECT lang, tg, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY COUNT(1) DESC, tg) AS rk
          FROM tri GROUP BY lang, tg) p
        WHERE rk <= 20),
      scores AS (
        SELECT t.doc_id, p.profile_lang, COUNT(1) AS score
        FROM (SELECT DISTINCT doc_id, tg FROM tri) t
        JOIN profiles p ON t.tg = p.tg
        GROUP BY 1, 2),
      pred AS (
        SELECT doc_id, profile_lang AS pred_lang FROM (
          SELECT doc_id, profile_lang, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, profile_lang) AS rk
          FROM scores) x
        WHERE rk = 1),
      conf AS (
        SELECT d.lang, pred.pred_lang, COUNT(1) AS n
        FROM documents d JOIN pred ON d.doc_id = pred.doc_id
        GROUP BY 1, 2)"""

  private[graft] def langProfiles(s: SparkSession, d: String): Seq[LangProfile] =
    langProfMemo.getOrCompute(s, d, docsVersion(s, d)) {
      val tgs = graft.functions.TextExprs.charNGrams(col("text"), 3)
      val wProf = Window.partitionBy(col("lang"))
        .orderBy(desc("cnt"), col("tg"))
      Tables.documents(s, d)
        .select(col("lang"), explode(tgs).as("tg"))
        .groupBy(col("lang"), col("tg"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wProf))
        .filter(col("rk") <= 20)
        .groupBy(col("lang"))
        .agg(sort_array(collect_list(col("tg"))).as("ptgs"))
        .orderBy("lang")
        .collect()
        .map(r => LangProfile(r.getString(0), r.getSeq[String](1)))
        .toSeq
    }

  private val lrMemo =
    new graft.SessionMemo[(String, Int, Int, Double),
      (Seq[Double], Seq[Double], Double)]

  /** The t04 quality expression (the heuristic being distilled). The
    * tokenization AND the three token statistics come from ONE fused
    * codegen walk of the raw text
    * ([[graft.functions.TextExprs.qualityStats]]); the arithmetic is
    * the original expression tree unchanged, so the value is bitwise
    * the declarative form's (ExprEquivSpec pins it against
    * [[qualityExprDeclarative]]). The declarative twin materialized
    * the regex split and re-walked the token array four times — two
    * walks inside interpreted HOFs — which made this scan the whole
    * warm-path residual of t49 at sf10 (8.7 s of a 9.4 s query;
    * SCALE.md round 12). */
  private[graft] def qualityExpr: Column = {
    val st = graft.functions.TextExprs.qualityStats(col("text"))
    val nTok = st.getField("n_tok").cast("double")
    val stopRatio = st.getField("n_stop").cast("double") / nTok
    val distinctRatio = st.getField("n_distinct").cast("double") / nTok
    least(nTok / lit(100.0), lit(1.0)) * lit(0.4) +
      distinctRatio * lit(0.4) +
      least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2)
  }

  /** The pre-fusion declarative spelling of [[qualityExpr]], kept as
    * the equivalence oracle for the fused kernel (ExprEquivSpec). */
  private[graft] def qualityExprDeclarative: Column = {
    val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
    val nTok = size(toks).cast("double")
    val stopRatio =
      size(filter(toks, t => array_contains(stop, t))).cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    least(nTok / lit(100.0), lit(1.0)) * lit(0.4) +
      distinctRatio * lit(0.4) +
      least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2)
  }

  /** DuckDB twin of round([[qualityExpr]], 6) — identical op order. */
  private val qualitySqlRounded = """ROUND(
      LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0) * 0.4
      + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
         / len(str_split(text,' '))) * 0.4
      + LEAST((CAST(len(list_filter(str_split(text,' '),
          t -> list_contains(['the','a','of','and','to','in'], t)))
        AS DOUBLE) / len(str_split(text,' '))) * 5.0, 1.0) * 0.2, 6)"""

  /** UNROUNDED DuckDB twin of [[qualityExpr]] — identical op order;
    * the t29 label threshold needs the raw double (the ROUND in
    * [[qualitySqlRounded]] is presentation for t04-family outputs). */
  private val qualitySqlRaw = """(
      LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0) * 0.4
      + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
         / len(str_split(text,' '))) * 0.4
      + LEAST((CAST(len(list_filter(str_split(text,' '),
          t -> list_contains(['the','a','of','and','to','in'], t)))
        AS DOUBLE) / len(str_split(text,' '))) * 5.0, 1.0) * 0.2)"""

  /** The t06/t10 portable rolling hash as a DuckDB fragment (per
    * GRAPHEME first-code-point — identical to the engine's per-code-
    * point walk for this corpus's BMP text; same parity note as the
    * t10 oracle). */
  private def polyHashSql(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(str_split($expr, ''),
        ch -> CAST(ascii(ch) AS BIGINT))),
      (acc, ch) -> (acc*31+ch) % 1000000007)"""

  /** The full DuckDB REPLAY of [[lrModel]] + [[lrScore]] — training
    * included, not just scoring. Possible because round 12 made every
    * training reduction tick-exact (dsum128 ≡ the dsumSql decimal
    * chain), the link rational (no exp/log), the feature hash
    * portable (polyHash), and the driver-side weight updates plain
    * two-operand IEEE arithmetic that SQL reproduces verbatim. The
    * `iters` weight updates unroll as chained CTEs (the
    * kmeansAssignSql discipline): r_i (residuals under w_{i-1}),
    * g_i (per-feature tick-exact gradient sums), w_i (momentum +
    * RMS-preconditioned update). The final SELECT replays
    * [[lrMarginExpr]]'s row-local token fold against the converged
    * weight list. */
  private def lrOracleSql(nF: Int = 512, iters: Int = 40,
      lr: Double = 0.8, mu: Double = 0.9): String = {
    val prelude = s"""WITH tk AS MATERIALIZED (
        SELECT doc_id, text, str_split(text, ' ') AS ts FROM documents),
      q AS MATERIALIZED (
        SELECT doc_id, $qualitySqlRaw AS q FROM documents),
      thr AS (SELECT ${davgSql("q")} AS thr FROM q),
      lab AS MATERIALIZED (
        SELECT q.doc_id, CASE WHEN q.q >= t.thr THEN 1.0 ELSE 0.0 END AS y
        FROM q CROSS JOIN thr t),
      tokrow AS (
        SELECT doc_id, CAST(len(ts) AS DOUBLE) AS n, unnest(ts) AS t
        FROM tk),
      fh AS MATERIALIZED (
        SELECT doc_id, n, CAST(${polyHashSql("t")} % $nF AS INT) AS f
        FROM tokrow),
      feats AS MATERIALIZED (
        SELECT doc_id, f, COUNT(1) / MAX(n) AS x
        FROM fh GROUP BY doc_id, f
        UNION ALL SELECT doc_id, $nF AS f, 1.0 AS x FROM tk
        UNION ALL SELECT doc_id, ${nF + 1} AS f,
          LEAST(CAST(len(ts) AS DOUBLE)/100.0, 1.0) AS x FROM tk
        UNION ALL SELECT doc_id, ${nF + 2} AS f,
          CAST(len(list_distinct(ts)) AS DOUBLE)
            / CAST(len(ts) AS DOUBLE) AS x FROM tk),
      fs AS (SELECT CAST(gf.f AS INT) AS f
        FROM generate_series(0, ${nF + 2}) AS gf(f)),
      nd AS (SELECT CAST(COUNT(1) AS DOUBLE) AS nd FROM lab),
      rms AS MATERIALIZED (
        SELECT fs.f, COALESCE(SQRT(r.s2 / nd.nd), 0.0) AS rms
        FROM fs
        LEFT JOIN (SELECT f, ${dsumSql("x * x")} AS s2
                   FROM feats GROUP BY f) r USING (f)
        CROSS JOIN nd),
      w0 AS (SELECT f, 0.0 AS w, 0.0 AS vel FROM fs)"""
    def step(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""r$i AS MATERIALIZED (
        SELECT l.doc_id,
          (0.5 + (3.0 * t.m) / (2.0 * (1.0 + abs(3.0 * t.m)))) - l.y AS r
        FROM (SELECT ft.doc_id, ${dsumSql("w.w * ft.x")} AS m
              FROM feats ft JOIN $prev w USING (f)
              GROUP BY ft.doc_id) t
        JOIN lab l USING (doc_id)),
      g$i AS MATERIALIZED (
        SELECT ft.f, ${dsumSql("r.r * ft.x")} AS g
        FROM feats ft JOIN r$i r USING (doc_id) GROUP BY ft.f),
      w$i AS MATERIALIZED (
        SELECT w.f,
          w.w - $lr * ($mu * w.vel
            + (COALESCE(g.g, 0.0) / nd.nd) / (rms.rms + 1.0e-6)) AS w,
          $mu * w.vel
            + (COALESCE(g.g, 0.0) / nd.nd) / (rms.rms + 1.0e-6) AS vel
        FROM $prev w
        LEFT JOIN g$i g USING (f)
        JOIN rms USING (f)
        CROSS JOIN nd)"""
    }
    val steps = (1 to iters).map(step).mkString(",\n")
    val score = s"""warr AS (SELECT list(w ORDER BY f) AS wa FROM w$iters),
      sc AS (
        SELECT tk.doc_id,
          CASE WHEN $qualitySqlRaw >= t.thr THEN 1 ELSE 0 END AS y,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(ts,
              t2 -> wa.wa[CAST(${polyHashSql("t2")} % $nF AS INT) + 1])),
            (acc, v) -> acc + v) / CAST(len(ts) AS DOUBLE)
          + wa.wa[${nF + 1}]
          + LEAST(CAST(len(ts) AS DOUBLE)/100.0, 1.0) * wa.wa[${nF + 2}]
          + (CAST(len(list_distinct(ts)) AS DOUBLE)
             / CAST(len(ts) AS DOUBLE)) * wa.wa[${nF + 3}] AS m
        FROM tk CROSS JOIN warr wa CROSS JOIN thr t)
      SELECT doc_id, CAST(y AS INT) AS y, ROUND(m, 6) AS margin,
        CAST(CASE WHEN m >= 0 THEN 1 ELSE 0 END AS INT) AS pred,
        CAST(CASE WHEN (CASE WHEN m >= 0 THEN 1 ELSE 0 END) = y
          THEN 1 ELSE 0 END AS INT) AS correct
      FROM sc ORDER BY doc_id"""
    Seq(prelude, steps, score).mkString(",\n")
  }

  /** Per-doc feature rows (doc_id, f, x): hashed normalized-TF buckets
    * (feature hashing a la Weinberger et al. 2009) + a bias (f = nF)
    * + two surface statistics — length saturation (f = nF+1) and
    * distinct-token ratio (f = nF+2), the cheap signals every
    * production quality classifier feeds beside the bag of words. */
  private def lrFeatures(docs: DataFrame, nF: Int): DataFrame = {
    val nTok = size(toks).cast("double")
    docs
      .select(col("doc_id"), nTok.as("n"), explode(toks).as("t"))
      // PORTABLE feature hash (polyHash mod F, the t06/t10 recipe) —
      // not Spark's murmur3: the t29 oracle replays the whole
      // training in DuckDB, which must bucket every token into the
      // same feature id. polyHash is non-negative, so % == pmod.
      .select(col("doc_id"), col("n"),
        (graft.functions.TextExprs.polyHash(col("t")) % nF)
          .cast("int").as("f"))
      .groupBy(col("doc_id"), col("f"))
      .agg((count(lit(1)) / first(col("n"))).as("x"))
      .unionByName(docs.select(col("doc_id"), lit(nF).as("f"),
        lit(1.0).as("x")))
      .unionByName(docs.select(col("doc_id"), lit(nF + 1).as("f"),
        least(nTok / lit(100.0), lit(1.0)).as("x")))
      .unionByName(docs.select(col("doc_id"), lit(nF + 2).as("f"),
        (size(array_distinct(toks)).cast("double") / nTok).as("x")))
  }

  /** Distributed linear classifier, trained IN the engine — the
    * model-based quality filter of the CCNet / RefinedWeb / DCLM
    * curation stacks (fastText-shaped: linear over hashed bag-of-words
    * + surface features, Joulin et al. 2016). The label distills the
    * t04 quality heuristic into a band: y = quality ≥ corpus mean.
    * Distillation is the honest framing: the point of the exercise is
    * the TRAINING MACHINERY — a convex objective optimized exactly,
    * distributed — not world knowledge; production pipelines do the
    * same thing with "looks like a reference corpus" weak labels.
    *
    * Optimizer: batch gradient descent under the RATIONAL sigmoid
    * link σ(m) = 0.5 + 3m/(2·(1+|3m|)) — logistic-shaped but
    * transcendental-free, which is what lets the t29 oracle replay
    * training exactly — with per-feature RMS preconditioning (√E[x²],
    * one extra F-row aggregation computed once — the bias carries
    * ~50× a TF bucket's curvature, so a single global rate either
    * crawls or oscillates; cf. Adagrad, Duchi et al. 2011) plus
    * heavy-ball momentum (Polyak 1964) — measured on this corpus:
    * Brier loss 0.25 → 0.076, ≥0.90 train accuracy in 40 iterations,
    * loss strictly monotone at lr = 0.8.
    *
    * Per iteration the plan is two bounded shuffles, both map-side
    * combined: (1) per-doc margin with the weight vector BROADCAST as
    * an array literal (F+3 doubles — never a join); (2) per-feature
    * gradient sum(residual·x) — exactly F+3 groups collected to the
    * driver (bounded by construction, like the k-means centroid
    * table). Feature hashing fixes the model dimension INDEPENDENT of
    * vocab, which is what makes the 100 TB regime work: the corpus is
    * scanned once per iteration (from a persisted feature relation at
    * test SF; from parquet at scale), the model state is O(F), and
    * scoring — the actual filter — is one embarrassingly-parallel
    * pass: broadcast weights, one groupBy(doc), no model shuffle. */
  def lrModel(s: SparkSession, d: String, nF: Int = 512, iters: Int = 40,
      lr: Double = 0.8): (Seq[Double], Seq[Double], Double) =
    lrMemo.getOrCompute(s, (d, nF, iters, lr), docsVersion(s, d)) {
      // EVERY reduction below is the order-independent tick-exact sum
      // (dsum128 / davg128) and the link is the RATIONAL sigmoid
      // σ(m) = 0.5 + 3m / (2·(1+|3m|)) — no exp/log anywhere, so the
      // entire 40-iteration training run is a deterministic function
      // of the corpus that DuckDB replays bit-for-bit (the t29 oracle
      // unrolls it; the m23 fixed-point-DCT discipline applied to GD).
      // Loss is the Brier score (mean squared error) — same
      // strictly-falling convergence contract, rational arithmetic.
      val docs = Tables.documents(s, d)
      val thr = docs.agg(davg128(qualityExpr)).head().getDouble(0)
      val labels = docs.select(col("doc_id"),
        when(qualityExpr >= thr, 1.0).otherwise(0.0).as("y")).persist()
      val feats = lrFeatures(docs, nF).persist()
      try {
        val nDocs = labels.count().toDouble
        // per-feature RMS preconditioner: F+3 rows, computed once
        val rms = feats.groupBy(col("f"))
          .agg(dsum128(col("x") * col("x")).as("s2"))
          .collect().map(r => r.getInt(0) ->
            math.sqrt(r.getDouble(1) / nDocs))
          .toMap
        var w = Seq.fill(nF + 3)(0.0)
        var vel = Seq.fill(nF + 3)(0.0)
        val mu = 0.9
        val losses = Seq.newBuilder[Double]
        for (_ <- 0 until iters) {
          val wLit = array(w.map(lit): _*)
          val probs = feats
            .withColumn("wx", element_at(wLit, col("f") + 1) * col("x"))
            .groupBy(col("doc_id")).agg(dsum128(col("wx")).as("m"))
            .join(labels, "doc_id")
            .select(col("doc_id"), col("y"),
              (lit(0.5) + (lit(3.0) * col("m")) /
                (lit(2.0) * (lit(1.0) + abs(lit(3.0) * col("m"))))).as("p"))
          val resid = probs.select(col("doc_id"),
            (col("p") - col("y")).as("r"))
          val rows = feats.join(resid, "doc_id")
            .groupBy(col("f"))
            .agg(dsum128(col("r") * col("x")).as("g"))
            .collect() // F+3 rows — bounded by construction
          losses += resid.agg(davg128(col("r") * col("r")))
            .head().getDouble(0)
          val grad = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
          vel = vel.zipWithIndex.map { case (vi, i) =>
            mu * vi + (grad.getOrElse(i, 0.0) / nDocs) /
              (rms.getOrElse(i, 0.0) + 1e-6) }
          w = w.zip(vel).map { case (wi, vi) => wi - lr * vi }
        }
        (w, losses.result(), thr)
      } finally {
        feats.unpersist(blocking = false)
        labels.unpersist(blocking = false)
      }
    }

  /** Test/ops hook: drop cached classifier models. */
  def clearLrModels(): Unit = lrMemo.clear()

  /** The trained model's margin as a ROW-LOCAL expression: Σ_f w_f·x_f
    * over normalized-TF features collapses to (Σ_tokens w[h(t)])/n —
    * one fold over the token array, plus the bias and the two surface
    * terms. No explode, no groupBy, no join: the scoring pass — the
    * actual 100 TB filter — is map-only with the weights inlined as
    * an array literal. (Training keeps the exploded feature relation
    * because gradients need per-FEATURE sums; scoring needs only the
    * per-DOC sum, which associativity hands back for free.) Shared by
    * the batch scorer ([[lrScore]]) and the streaming apply twin
    * (`graft.streaming.Streams.scoreDocsWithModel`). */
  def lrMarginExpr(w: Seq[Double], nF: Int): Column = {
    val wLit = array(w.map(lit): _*)
    val nTok = size(toks).cast("double")
    aggregate(toks, lit(0.0), (acc, t) =>
      acc + element_at(wLit,
        (graft.functions.TextExprs.polyHash(t) % nF).cast("int") + 1)) /
      nTok +
      element_at(wLit, lit(nF + 1)) +
      least(nTok / lit(100.0), lit(1.0)) * element_at(wLit, lit(nF + 2)) +
      (size(array_distinct(toks)).cast("double") / nTok) *
        element_at(wLit, lit(nF + 3))
  }

  /** Score every document under the (memoized) trained model — one
    * map-only pass via [[lrMarginExpr]]; the orderBy is presentation.
    * The reported score is the linear MARGIN, not a squashed
    * probability: pred = margin ≥ 0 is the identical decision
    * boundary (σ(m) ≥ 0.5 ⟺ m ≥ 0 for any monotone sigmoid), and the
    * margin is rational arithmetic end-to-end, so the whole output —
    * trained weights included — hash-matches the oracle's replayed
    * training. */
  def lrScore(s: SparkSession, d: String, nF: Int = 512): DataFrame = {
    val (w, _, thr) = lrModel(s, d, nF)
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(qualityExpr >= thr, 1).otherwise(0).as("y"),
        lrMarginExpr(w, nF).as("m"))
      .select(col("doc_id"), col("y"), round(col("m"), 6).as("margin"),
        when(col("m") >= 0, 1).otherwise(0).as("pred"))
      .withColumn("correct", (col("pred") === col("y")).cast("int"))
      .orderBy("doc_id")
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- per-document stats (token counts, lengths) ----
    QuerySpec(
      "t01_doc_stats",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).as("text_len"),
            size(toks).as("n_tokens"),
            size(array_distinct(toks)).as("n_distinct_tokens"),
            (aggregate(toks, lit(0L), (acc, t) => acc + length(t))
              .cast("double") / size(toks)).as("mean_token_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source,
        CAST(LENGTH(text) AS INT) AS text_len,
        CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
        CAST(len(list_distinct(str_split(text, ' '))) AS INT)
          AS n_distinct_tokens,
        CAST(list_sum(list_transform(str_split(text, ' '),
          t -> LENGTH(t))) AS DOUBLE) / len(str_split(text, ' '))
          AS mean_token_len
      FROM documents ORDER BY doc_id""")),

    // ---- corpus stats by language ----
    QuerySpec(
      "t02_lang_stats",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            davg128(col("n_chars").cast("double")).as("avg_n_chars"),
            davg128(length(col("text")).cast("double")).as("avg_text_len"),
            davg128(size(toks).cast("double")).as("avg_tokens"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(1) AS n_docs,
        ${davgSql("CAST(n_chars AS DOUBLE)")} AS avg_n_chars,
        ${davgSql("CAST(LENGTH(text) AS DOUBLE)")} AS avg_text_len,
        ${davgSql("CAST(len(str_split(text, ' ')) AS DOUBLE)")} AS avg_tokens
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- token counting: whitespace + BPE-ish sub-token regex ----
    QuerySpec(
      "t03_token_count",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), "\\s+")).as("ws_tokens"),
            size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
              .as("bpeish_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
          AS INT) AS bpeish_tokens
      FROM documents ORDER BY doc_id""")),

    // ---- quality scoring (length / stopword / repetition signals) ----
    QuerySpec(
      "t04_quality_score",
      (s, d) => {
        val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
        val nTok = size(toks).cast("double")
        val stopRatio =
          size(filter(toks, t => array_contains(stop, t))).cast("double") / nTok
        val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
        val lenScore = least(nTok / lit(100.0), lit(1.0))
        Tables.documents(s, d)
          .select(col("doc_id"),
            round(stopRatio, 6).as("stop_ratio"),
            round(distinctRatio, 6).as("distinct_ratio"),
            round(lenScore * lit(0.4) + distinctRatio * lit(0.4) +
              least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2), 6)
              .as("quality"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        ROUND(CAST(len(list_filter(str_split(text,' '),
            t -> list_contains(['the','a','of','and','to','in'], t)))
          AS DOUBLE) / len(str_split(text,' ')), 6) AS stop_ratio,
        ROUND(CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
          / len(str_split(text,' ')), 6) AS distinct_ratio,
        ROUND(
          LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0) * 0.4
          + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
             / len(str_split(text,' '))) * 0.4
          + LEAST((CAST(len(list_filter(str_split(text,' '),
              t -> list_contains(['the','a','of','and','to','in'], t)))
            AS DOUBLE) / len(str_split(text,' '))) * 5.0, 1.0) * 0.2, 6)
          AS quality
      FROM documents ORDER BY doc_id""")),

    // ---- language-ID: train char-trigram profiles per lang from the
    //      corpus, classify each doc by profile overlap, report the
    //      per-lang confusion counts ----
    QuerySpec(
      "t05_language_id",
      (s, d) => langConfusion(s, d).orderBy("lang", "pred_lang"),
      Some(s"""WITH $langConfusionCtes
      SELECT lang, pred_lang, n FROM conf ORDER BY 1, 2""")),

    // ---- rolling-hash document fingerprint (portable: 31-base
    //      polynomial over character codes mod 1e9+7), computed by the
    //      fused single-pass PolyHash expression (same value as the
    //      split-chars + aggregate fold, no per-char array) ----
    QuerySpec(
      "t06_fingerprint",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.TextExprs.polyHash(col("text")).as("fingerprint"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(str_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      FROM documents ORDER BY doc_id""")),

    // ---- exact dedup: one survivor per identical text (min doc_id),
    //      plus corpus-level dup accounting per source ----
    QuerySpec(
      "t07_exact_dedup",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("source"), col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_distinct_texts"),
            sum(col("n_copies")).as("n_docs"),
            sum(col("n_copies") - 1).as("n_dups_removed"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(1) AS n_distinct_texts,
        CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed
      FROM (SELECT source, text, MIN(doc_id) AS keep_id,
              COUNT(1) AS n_copies
            FROM documents GROUP BY source, text) g
      GROUP BY source ORDER BY source""")),

    // ---- exact n-gram Jaccard near-dup pairs, scale-routed: brute
    //      shingle join at/below the oracle anchor, MinHash+LSH with
    //      exact verification above it (same output contract — t09
    //      hash-matches this very oracle at every gate SF).
    //      ORACLE VALIDITY BOUND: the registered SQL is the exact
    //      all-pairs join, so a hash comparison is guaranteed only
    //      at/below ExactAnchorRows (all driver gate SFs qualify:
    //      ≤500 docs); above it the LSH route's ~0.99992 candidate
    //      recall can miss a pair, and the comparison of record is
    //      t09's anchored hash-match plus the OpsSpec routing test —
    //      run an above-anchor oracle diff only as a recall PROBE,
    //      not a gate. ----
    QuerySpec(
      "t08_jaccard_pairs",
      (s, d) => jaccardPairs(s, d, 0.8).orderBy("da", "db"),
      Some(jaccardPairsSql(0.8))),

    // ---- MinHash + LSH near-dup: band-bucket candidates, exact
    //      Jaccard verification — same output as t08, found without
    //      the all-pairs shingle join (the 100 TB path) ----
    QuerySpec(
      "t09_minhash_lsh",
      (s, d) => lshJaccardPairs(s, d, 0.8).orderBy("da", "db"),
      Some(jaccardPairsSql(0.8))),

    // ---- SimHash 63-bit signatures. Bit i's vote is the PARITY of a
    //      universal hash (aᵢ·h + bᵢ) mod p over the token's rolling
    //      polyHash — the same portable-hash recipe t06/t30 proved in
    //      DuckDB, so the signature is engine-exact and the query is
    //      hash-matched instead of rows-only. 63 bits, not 64: the
    //      sign bit stays clear so the signature is a non-negative
    //      BIGINT in every engine (no wrap-around semantics to
    //      replicate). Near-dup = small Hamming distance; the metric
    //      property is additionally pinned by OpsSpec. ----
    QuerySpec(
      "t10_simhash",
      (s, d) => {
        // votes ride per-doc DISTINCT tokens weighted by multiplicity
        // (token_counts kernel): Σ_occurrences ±1 ≡ Σ_distinct ±c,
        // integer-exact, with the exploded relation shrunk to the
        // distinct vocabulary of each doc before the aggregation.
        // aᵢ·h + bᵢ stays < 2⁶¹ (a < 2³¹, h < 2³⁰), no overflow in
        // either engine.
        val bitVotes = (0 until 63).map { i =>
          sum(when(pmod(lit(simhashA(i)) * col("th") + lit(simhashB(i)),
              lit(HashP)) % 2 === 1, col("c"))
            .otherwise(-col("c"))).as(s"b$i")
        }
        // collapsed per text: the signature is a pure function of the
        // text (same votes, same sign tests, bit-identical BIGINT)
        val mapping = Collapse.texts(s, d)
        val votes = mapping.reps
          .select(col("rep"),
            explode(graft.functions.TextExprs.tokenCounts(toks)))
          .toDF("rep", "t", "c")
          .withColumn("th", graft.functions.TextExprs.polyHash(col("t")))
          .groupBy(col("rep"))
          .agg(bitVotes.head, bitVotes.tail: _*)
        val sig = (0 until 63).map { i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
        }.reduce(_.bitwiseOR(_))
        mapping.toMembers(votes)
          .select(col("doc_id"), sig.as("simhash")).orderBy("doc_id")
      },
      Some {
        // PARITY ASSUMPTION (same as t06's fingerprint recipe): the
        // oracle's str_split(t, '') + ascii(ch) iterates per GRAPHEME
        // and keeps only its first code point, while Scala's polyHash
        // walks every code point — identical for ASCII/BMP text with
        // single-code-point graphemes (this corpus), divergent for
        // ZWJ/modifier emoji clusters. A corpus gaining such content
        // needs the oracle rewritten over explicit code points.
        val hashTerms = (0 until 63).map(i =>
          s"SUM(CASE WHEN (${simhashA(i)}*th+${simhashB(i)}) % $HashP % 2 = 1 " +
            s"THEN c ELSE -c END) AS b$i").mkString(", ")
        val sigTerms = (0 until 63)
          .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH tok AS (
          SELECT doc_id, t, COUNT(1) AS c
          FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                FROM documents) u
          GROUP BY 1, 2),
        h AS (
          SELECT doc_id, c, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(str_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
            (acc, ch) -> (acc*31+ch) % 1000000007) AS th
          FROM tok),
        v AS (SELECT doc_id, $hashTerms FROM h GROUP BY doc_id)
        SELECT doc_id, CAST($sigTerms AS BIGINT) AS simhash
        FROM v ORDER BY doc_id"""
      }),

    // ---- top-5 terms per language (tokenize → explode → rank) ----
    QuerySpec(
      "t11_top_terms",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(desc("n"), col("t"))
        Tables.documents(s, d)
          .select(col("lang"), explode(toks).as("t"))
          .groupBy(col("lang"), col("t"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, t, n, rk FROM (
        SELECT lang, t, n, CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY n DESC, t) AS INT) AS rk
        FROM (SELECT lang, t, COUNT(1) AS n FROM
                (SELECT lang, unnest(str_split(text, ' ')) AS t
                 FROM documents) u
              GROUP BY 1, 2) c) r
      WHERE rk <= 5 ORDER BY lang, rk""")),

    // ---- duplicate clusters: connected components over the near-dup
    //      pair graph (pairs → clusters → canonical doc = min id).
    //      Spark side is min-label propagation iterated to fixpoint —
    //      the Pregel-lite pattern; components here are tiny (dup
    //      groups), so it converges in a couple of joins. At 100 TB
    //      the same loop runs on the LSH pairs (t09) with the labels
    //      checkpointed per iteration. Oracle: recursive-CTE
    //      transitive closure. ----
    QuerySpec(
      "t12_dedup_groups",
      (s, d) => {
        // pairs come from the LSH path (same output as the brute join,
        // proven by t09's oracle hash-match) — at 100 TB this IS the
        // pair source, so the clustering exercises the scale shape;
        // the labels relation is session-shared with t49
        val labels = dupClusterLabels(s, d, 0.8)
        labels
          .select(col("doc_id"), col("lbl").as("component"),
            (col("doc_id") === col("lbl")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.8)}),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION ALL SELECT db, da FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component,
        a = LEAST(a, MIN(b)) AS keep
      FROM reach GROUP BY a ORDER BY doc_id""")),

    // ---- corpus curation: keep docs above a quality threshold,
    //      report per-language retention (the filter step a training
    //      pipeline runs after t04's scoring) ----
    QuerySpec(
      "t13_quality_filter",
      (s, d) => {
        val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
        val nTok = size(toks).cast("double")
        val stopRatio =
          size(filter(toks, t => array_contains(stop, t))).cast("double") / nTok
        val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
        val lenScore = least(nTok / lit(100.0), lit(1.0))
        val quality = round(lenScore * lit(0.4) + distinctRatio * lit(0.4) +
          least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2), 6)
        Tables.documents(s, d)
          .withColumn("q", quality)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
            round(davg128(col("q")), 6).as("avg_quality"))
          .withColumn("retention",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(1) AS n_docs,
        CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        ROUND(${davgSql("q")}, 6) AS avg_quality,
        CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(1) AS retention
      FROM (SELECT lang, ROUND(
          LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0) * 0.4
          + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
             / len(str_split(text,' '))) * 0.4
          + LEAST((CAST(len(list_filter(str_split(text,' '),
              t -> list_contains(['the','a','of','and','to','in'], t)))
            AS DOUBLE) / len(str_split(text,' '))) * 5.0, 1.0) * 0.2, 6)
          AS q
        FROM documents) t
      GROUP BY lang ORDER BY lang""")),

    // ---- benchmark decontamination: flag corpus docs sharing any
    //      word n-gram with the held-out "benchmark" slice (here: the
    //      deterministic doc_id % 17 == 0 subset stands in for a test
    //      set). The join runs on 64-bit shingle hashes (8-byte keys);
    //      the benchmark side is tiny relative to the corpus and is
    //      broadcast, so the 100-TB corpus side never shuffles — at
    //      extreme benchmark sizes swap the broadcast set for a bloom
    //      filter and keep this exact join as the verify pass ----
    QuerySpec(
      "t14_decontaminate",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingles).as("s"))
        val benchSh = sh.filter(col("doc_id") % 17 === 0)
          .select(col("s")).distinct()
        sh.filter(col("doc_id") % 17 =!= 0)
          .join(broadcast(benchSh), "s")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS ($shinglesSql)
        SELECT a.doc_id, COUNT(1) AS n_shared
        FROM sh a
        JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0) b
          ON a.s = b.s
        WHERE a.doc_id % 17 <> 0
        GROUP BY a.doc_id ORDER BY a.doc_id""")),

    // ---- repetition signals (Gopher-style quality rules): duplicate
    //      word-bigram fraction + most-frequent-token mass. The token
    //      mode needs per-(doc, token) counts — explode + two-level
    //      agg, partial-aggregated map-side; the bigram side stays a
    //      per-row fused expression ----
    QuerySpec(
      "t15_repetition",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nBi = greatest(size(toks) - 1, lit(0))
        val nBiDistinct =
          size(graft.functions.TextExprs.shingleHashes(col("text"), 2))
        // both statistics are ROW-LOCAL: max token multiplicity is the
        // fused topTokenFreq kernel, total tokens is size(toks) — the
        // two-level explode→groupBy chain this replaces shuffled every
        // token occurrence to compute per-row facts (values identical:
        // sum of per-token counts = token count; split() never emits
        // null tokens, so the kernel's null-skip contract is vacuous)
        val topTok = docs.select(col("doc_id"),
          graft.functions.TextExprs.topTokenFreq(toks)
            .cast("long").as("top_c"),
          size(toks).cast("long").as("n_tok"))
        docs
          .select(col("doc_id"), nBi.as("n_bi"),
            nBiDistinct.as("n_bi_distinct"))
          .join(topTok, "doc_id")
          .select(col("doc_id"),
            round(when(col("n_bi") > 0, lit(1.0) -
              col("n_bi_distinct").cast("double") / col("n_bi"))
              .otherwise(lit(0.0)), 6).as("dup_bigram_frac"),
            round(col("top_c").cast("double") / col("n_tok"), 6)
              .as("top_token_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH tc AS (
          SELECT doc_id, tok, COUNT(1) AS c
          FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
                FROM documents) t
          GROUP BY doc_id, tok),
        td AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok
               FROM tc GROUP BY doc_id),
        bi AS (SELECT doc_id,
          greatest(len(str_split(text, ' ')) - 1, 0) AS n_bi,
          len(list_distinct(list_transform(
            generate_series(1, greatest(len(str_split(text, ' ')) - 1, 0)),
            i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1])))
            AS n_bi_distinct
          FROM documents)
        SELECT b.doc_id,
          ROUND(CASE WHEN n_bi > 0
            THEN 1.0 - CAST(n_bi_distinct AS DOUBLE) / n_bi
            ELSE 0.0 END, 6) AS dup_bigram_frac,
          ROUND(CAST(top_c AS DOUBLE) / n_tok, 6) AS top_token_frac
        FROM bi b JOIN td ON b.doc_id = td.doc_id
        ORDER BY b.doc_id""")),

    // ---- PII scrubbing: emails / phones / IPv4s → typed redaction
    //      tokens, with per-kind match counts. Inline wire-format
    //      fixture (the corpus fixtures are sanitized synthetic text
    //      with nothing to scrub) — literals on both sides, like the
    //      Parity queries. Pure regexp_replace/extract_all: per-row,
    //      codegen'd, no UDFs ----
    QuerySpec(
      "t16_pii_scrub",
      (s, d) => {
        import s.implicits._
        val rows = Seq(
          (1L, "contact me at alice@example.com or 555-123-4567 today"),
          (2L, "server at 10.0.0.1 mailed bob.smith@corp.example.org twice"),
          (3L, "no sensitive content here"),
          (4L, "dial 800-555-1212 or visit 192.168.10.254 then ask eve@a.io"),
          (5L, "two mails: x@y.io z@w.co and two lines 111-222-3333 444-555-6666"))
          .toDF("msg_id", "raw")
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\d{3}-\\d{3}-\\d{4}"
        val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
        rows.select(col("msg_id"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("scrubbed"),
          size(expr(
            "regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0)"))
            .as("n_emails"),
          size(expr("regexp_extract_all(raw, '\\\\d{3}-\\\\d{3}-\\\\d{4}', 0)"))
            .as("n_phones"))
          .orderBy("msg_id")
      },
      Some("""SELECT CAST(msg_id AS BIGINT) AS msg_id,
        regexp_replace(regexp_replace(regexp_replace(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
          '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed,
        CAST(len(regexp_extract_all(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
          AS n_emails,
        CAST(len(regexp_extract_all(raw, '\d{3}-\d{3}-\d{4}')) AS INT)
          AS n_phones
      FROM (VALUES
        (1, 'contact me at alice@example.com or 555-123-4567 today'),
        (2, 'server at 10.0.0.1 mailed bob.smith@corp.example.org twice'),
        (3, 'no sensitive content here'),
        (4, 'dial 800-555-1212 or visit 192.168.10.254 then ask eve@a.io'),
        (5, 'two mails: x@y.io z@w.co and two lines 111-222-3333 444-555-6666'))
        AS t(msg_id, raw)
      ORDER BY msg_id""")),

    // ---- language-balanced sampling: fixed per-language quota,
    //      selected by a deterministic pseudo-random order (md5 of the
    //      content + doc_id tie-break — reproducible across engines
    //      and runs, unlike rand()). The window partitions by lang
    //      (bounded cardinality × quota rows pass) — the curation step
    //      that rebalances a skewed multilingual corpus ----
    QuerySpec(
      "t17_balanced_sample",
      (s, d) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(md5(col("text")), col("doc_id"))
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("lang"), col("rk"), col("doc_id"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM (
        SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY md5(text), doc_id) AS rk
        FROM documents) t
      WHERE rk <= 20 ORDER BY lang, rk""")),

    // ---- per-doc top terms by tf/df salience (an integer-exact
    //      tf-idf variant: score = tf/df is monotone in tf and in
    //      1/df, and the double quotient of two ints is one correctly-
    //      rounded op in every engine — no transcendental drift).
    //      tf: one shuffle on (doc, term); df: second-level agg on the
    //      already-partial tf relation ----
    QuerySpec(
      "t18_term_salience",
      (s, d) => {
        // tf is row-local (token_counts kernel): the (doc, term)
        // occurrence shuffle disappears; df then counts rows of the
        // already-per-doc-distinct relation exactly as before.
        // collapsed per text: the (term, tf) rows are a pure function
        // of the text and df sums the group size m; the top-3 ranking
        // is a pure function of (text, df table)
        val mapping = Collapse.texts(s, d)
        val tf = mapping.reps
          .select(col("rep"), col("m"),
            explode(graft.functions.TextExprs.tokenCounts(toks)))
          .toDF("rep", "m", "term", "tf")
        val dfreq = tf.groupBy(col("term")).agg(sum(col("m")).as("df"))
        val w = Window.partitionBy(col("rep"))
          .orderBy(desc("score"), col("term"))
        val repTop = tf.join(dfreq, "term")
          .withColumn("score", col("tf").cast("double") / col("df"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
        mapping.toMembers(repTop)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"),
            col("df"), round(col("score"), 6).as("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH tf AS (
          SELECT doc_id, term, COUNT(1) AS tf
          FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
                FROM documents) t
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term)
        SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df,
          ROUND(score, 6) AS score
        FROM (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
            CAST(tf.tf AS DOUBLE) / dfreq.df AS score,
            ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.term) AS rk
          FROM tf JOIN dfreq ON tf.term = dfreq.term) r
        WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // ---- corpus-trained bigram language model as a fluency/quality
    //      signal (the CCNet/Gopher-style "LM score" curation step,
    //      transcendental-free so the oracle hash-matches): train
    //      add-one-smoothed P(w2|w1) on the whole corpus, then score
    //      each doc by its mean bigram probability and its share of
    //      rare bigrams. Probabilities are single correctly-rounded
    //      divisions of INTEGER counts and the per-doc mean is the
    //      ORDER-INDEPENDENT decimal sum (`davg` — exact
    //      integer-backed addition, one correctly-rounded cast out),
    //      so no engine ever buffers or sorts a document's
    //      probability list: the aggregation is a plain partial+final
    //      SUM at any scale (the earlier sorted sequential fold kept
    //      cross-engine addition order at the cost of a per-doc
    //      collect_list: every probability row shuffled into its
    //      doc's list with no map-side reduction, memory bounded only
    //      by document length. Measured trade at sf1: decimal adds
    //      cost ~1.2 s single-node; the shuffle payload drops from
    //      one double per BIGRAM to one 16-byte partial per doc per
    //      mapper — the right side of the trade on a network-shuffled
    //      cluster). No ln/exp drift either way. Scale: bigram
    //      extraction is per-row array zipping (no shuffle); the
    //      model is one (w1,w2) partial-agg shuffle bounded by
    //      vocabulary², not corpus size; scoring re-joins docs to the
    //      model on the same bounded key ----
    QuerySpec(
      "t19_bigram_lm",
      (s, d) => {
        val n = size(toks)
        // collapsed per text: the bigram sequence is a pure function of
        // the text and the model counts sum the group size m (same
        // integers, same smoothed divisions)
        val mapping = Collapse.texts(s, d)
        val biRows = mapping.reps
          .select(col("rep"), col("m"),
            explode(when(n >= 2,
              zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
                (a, b) => struct(a.as("w1"), b.as("w2"))))
              .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
              .as("b"))
          .select(col("rep"), col("m"),
            col("b.w1").as("w1"), col("b.w2").as("w2"))
        val bi = Scoped.persist(biRows)
        // r16: ONE corpus-sized aggregation. c1 and the vocabulary are
        // exact functions of the pair-count table (n1 = Σ_w2 n12;
        // distinct w2 of bi = distinct w2 of c12), so deriving them
        // from the vocab²-bounded c12 drops two full passes over the
        // cached bigram relation (guide §2.3: aggregate once, reduce
        // the reduced table). c12 is Scoped-persisted: it seeds three
        // tiny model-side aggregates.
        val c12 = Scoped.persist(
          bi.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("n12")))
        val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
        val vocab = c12.select(col("w2")).distinct()
          .agg(count(lit(1)).as("v"))
        // p is quantized to its davg tick count ONCE PER MODEL ROW
        // (vocabulary²-bounded), not once per bigram INSTANCE: the
        // per-doc mean is then a plain codegen'd sum(long) over the
        // joined instances — the r11 regression was exactly the
        // per-instance decimal work (one BigDecimal construct + add
        // per bigram row). Σ ticks per doc ≤ n_bigrams × 10¹⁰ (p ≤ 1),
        // inside the long-tick bound for any document length.
        val model = c12.join(c1, "w1").crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"), col("n12"),
            graft.functions.TickExprs.decimalTicks(
              (col("n12") + 1).cast("double") /
                (col("n1") + col("v")).cast("double")).as("p_ticks"))
        // model is vocab²-bounded: broadcast it so the corpus-sized
        // bigram relation is never shuffled for this join (§3.1)
        val repScore = bi.join(broadcast(model), Seq("w1", "w2"))
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_bigrams"),
            (graft.functions.TickExprs.ticksToDouble(sum(col("p_ticks"))) /
              count(lit(1))).as("avg_p"),
            (sum(when(col("n12") <= 2, 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("rare_ratio"))
        mapping.toMembers(repScore)
          .select(col("doc_id"), col("n_bigrams"), col("avg_p"),
            col("rare_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        bi AS (
          SELECT doc_id,
            unnest(t[1:len(t) - 1]) AS w1,
            unnest(t[2:len(t)]) AS w2
          FROM toks WHERE len(t) >= 2),
        c12 AS (SELECT w1, w2, COUNT(1) AS n12 FROM bi GROUP BY 1, 2),
        c1 AS (SELECT w1, COUNT(1) AS n1 FROM bi GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT w2) AS v FROM bi)
      SELECT doc_id, COUNT(1) AS n_bigrams,
        ${davgSql("p")} AS avg_p,
        CAST(SUM(CASE WHEN n12 <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(1) AS rare_ratio
      FROM (
        SELECT b.doc_id, c12.n12,
          CAST(c12.n12 + 1 AS DOUBLE) / CAST(c1.n1 + v.v AS DOUBLE) AS p
        FROM bi b
        JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        JOIN c1 ON b.w1 = c1.w1
        CROSS JOIN v) s
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- corpus-wide heavy hitters via the Space-Saving sketch (§2.9
    //      typed Aggregator): single-pass top-10 terms in 64 bounded
    //      counters with map-side partial aggregation — at 100 TB the
    //      exact groupBy behind t11 shuffles the whole vocabulary;
    //      this shuffles 64 counters per partition, period. Capacity
    //      (64) exceeds the fixture vocabulary (31), so the sketch is
    //      provably exact here and the oracle hash-checks it; OpsSpec
    //      bound-tests the genuinely-approximate small-capacity
    //      regime. ----
    QuerySpec(
      "t20_heavy_hitters",
      (s, d) => {
        val hh = udaf(new graft.functions.Aggregators.SpaceSaving(64, 10),
          org.apache.spark.sql.Encoders.STRING)
        Tables.documents(s, d)
          .select(explode(toks).as("t"))
          .agg(hh(col("t")).as("hh"))
          .select(posexplode(col("hh")))
          .select((col("pos") + 1).as("rk"), col("col.term").as("term"),
            col("col.n").as("n"))
          .orderBy("rk")
      },
      Some("""SELECT CAST(rk AS INT) AS rk, term, n FROM (
        SELECT term, COUNT(1) AS n,
          ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC, term) AS rk
        FROM (SELECT unnest(str_split(text, ' ')) AS term FROM documents) u
        GROUP BY term) t
      WHERE rk <= 10 ORDER BY rk""")),

    // ---- sequence packing: assign docs to fixed-token-budget
    //      training sequences (pack docs head-to-tail, splitting at
    //      512-token boundaries — the "concat-and-chunk" pretraining
    //      layout). Packing is inherently sequential, so it runs
    //      per-SHARD: docs hash into 8 independent streams, each
    //      packed by a running token sum over a bounded window
    //      partition — at 100 TB shards = O(cores) and no shard's
    //      window exceeds corpus/shards rows, vs the single-partition
    //      global window a naive cumsum would demand. Integer math
    //      throughout → oracle hash-matches. ----
    QuerySpec(
      "t21_sequence_packing",
      (s, d) => {
        val B = 512
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), pmod(col("doc_id"), lit(8)).cast("int")
            .as("shard"), size(toks).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("shard"), col("n_tokens"),
            floor((col("cum") - col("n_tokens")) / B).cast("int")
              .as("pack_id"),
            ((col("cum") - col("n_tokens")) % B).cast("int")
              .as("pack_offset"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
        CAST(n_tokens AS INT) AS n_tokens,
        CAST((cum - n_tokens) // 512 AS INT) AS pack_id,
        CAST((cum - n_tokens) % 512 AS INT) AS pack_offset
      FROM (
        SELECT doc_id, len(str_split(text, ' ')) AS n_tokens,
          SUM(len(str_split(text, ' '))) OVER (
            PARTITION BY doc_id % 8 ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents) t
      ORDER BY doc_id""")),

    // ---- training-mixture weights: per-source sampling weight
    //      ∝ token_count^α (α = 0.5 — the sublinear upweighting of
    //      small sources every data-mixture recipe uses). One
    //      bounded-key groupBy; the normalizing constant is a sorted
    //      sequential fold over the ≤|sources| weights (the s02
    //      pattern) so both engines sum identically and the oracle
    //      hash-matches despite double math. ----
    QuerySpec(
      "t22_source_mixture",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(toks).cast("long")).as("n_tokens"))
          .withColumn("w", sqrt(col("n_tokens").cast("double")))
        val tot = bySrc.agg(
          aggregate(sort_array(collect_list(col("w"))), lit(0.0),
            (acc, x) => acc + x).as("tot"))
        bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            (col("w") / col("tot")).as("weight"))
          .orderBy("source")
      },
      Some("""WITH bysrc AS (
        SELECT source, COUNT(1) AS n_docs,
          CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      wts AS (SELECT source, n_docs, n_tokens,
        sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM bysrc),
      tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_sort(list(w))), (acc, x) -> acc + x) AS tot FROM wts)
      SELECT source, n_docs, n_tokens, w / tot AS weight
      FROM wts, tot ORDER BY source""")),

    // ---- passage-level duplicate detection (the C4/RefinedWeb span
    //      dedup signal at fixed granularity): cut every doc into
    //      16-token passages, count passage occurrences CORPUS-wide,
    //      report per-doc duplicated-passage ratios. Chunking is a
    //      per-row projection; the corpus-wide count is one groupBy on
    //      the passage string — at 100 TB the passage would be hashed
    //      first (ShingleHashes-style) so the shuffle moves 8-byte
    //      keys; the structure is identical. Integer math → oracle
    //      hash-matches. ----
    QuerySpec(
      "t23_passage_dedup",
      (s, d) => {
        // tk materialized BEFORE the lambda: a HOF lambda re-evaluates
        // its body per element, and `split` can't be hoisted out of it
        // by the optimizer (the t43/NgramHashes lesson, presplit form)
        val nChunks = ceil(size(col("tk")) / 16.0).cast("int")
        // collapsed per text: the chunk sequence is a pure function of
        // the text and a chunk's corpus count sums the group size m,
        // so the c ≥ 2 cut is the same for every member
        val mapping = Collapse.texts(s, d)
        val chunks = mapping.reps
          .select(col("rep"), col("m"), toks.as("tk"))
          .select(col("rep"), col("m"),
            posexplode(when(nChunks > 0,
              transform(sequence(lit(0), nChunks - 1),
                i => array_join(slice(col("tk"), i * 16 + 1, lit(16)), " ")))
              .otherwise(array().cast("array<string>"))))
          .toDF("rep", "m", "chunk_idx", "chunk")
        val counts = chunks.groupBy(col("chunk"))
          .agg(sum(col("m")).as("c"))
        val repStats = chunks.join(counts, "chunk")
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        mapping.toMembers(repStats)
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"))
          .withColumn("dup_ratio",
            col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH chunks AS (
        SELECT doc_id,
          array_to_string(toks[(i*16+1):(i*16+16)], ' ') AS chunk
        FROM (
          SELECT doc_id, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(ceil(len(str_split(text, ' ')) / 16.0) AS INT) - 1))
              AS i
          FROM documents) t),
      counts AS (SELECT chunk, COUNT(1) AS c FROM chunks GROUP BY chunk)
      SELECT doc_id, COUNT(1) AS n_chunks,
        CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_chunks,
        CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(1)
          AS dup_ratio
      FROM chunks JOIN counts USING (chunk)
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- the END-TO-END curation pipeline in one declarative plan —
    //      the "switch from the reference" composition story: score
    //      every doc (t04's exact quality expression) → drop low
    //      quality (t13's threshold) → exact-dedup the survivors
    //      (keep the lowest doc_id per text, t07's rule) → per-source
    //      retention/token report. Each stage keeps its standalone
    //      twin's scale shape: scoring is row-local, the dedup window
    //      shuffles once on the text (hash it first at 100 TB), the
    //      report is a bounded-key aggregate. One oracle hash-check
    //      over the whole composition. ----
    QuerySpec(
      "t24_curation_pipeline",
      (s, d) => {
        val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
        val nTok = size(toks).cast("double")
        val stopRatio =
          size(filter(toks, t => array_contains(stop, t))).cast("double") / nTok
        val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
        val lenScore = least(nTok / lit(100.0), lit(1.0))
        val quality = round(lenScore * lit(0.4) + distinctRatio * lit(0.4) +
          least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2), 6)
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            size(toks).as("n_tokens"), quality.as("q"))
        val passed = scored.filter(col("q") >= 0.5)
        // the quality score is a pure function of the text, so a
        // text's copies pass or fail together: the min-id copy among
        // the passed ones is the dup mapping's rep
        val kept = Collapse.texts(s, d, Seq("source")).reps
          .select(col("source"), size(toks).as("n_tokens"), quality.as("q"))
          .filter(col("q") >= 0.5)
        val total = scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val pass = passed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_passed"))
        val fin = kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens").cast("long")).as("kept_tokens"),
            round(davg128(col("q")), 6).as("avg_quality"))
        total.join(pass, Seq("source"), "left")
          .join(fin, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_passed"), lit(0L)).as("n_passed"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
            col("avg_quality"))
          .orderBy("source")
      },
      Some("""WITH scored AS (
        SELECT doc_id, source, text,
          len(str_split(text,' ')) AS n_tokens,
          ROUND(
            LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0)*0.4
            + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
               / len(str_split(text,' ')))*0.4
            + LEAST((CAST(len(list_filter(str_split(text,' '),
                t -> list_contains(['the','a','of','and','to','in'], t)))
              AS DOUBLE) / len(str_split(text,' ')))*5.0, 1.0)*0.2, 6)
            AS q
        FROM documents),
      passed AS (SELECT * FROM scored WHERE q >= 0.5),
      kept AS (SELECT * FROM (
          SELECT p.*, MIN(doc_id) OVER (PARTITION BY text) AS keep_id
          FROM passed p) k
        WHERE doc_id = keep_id),
      t AS (SELECT source, COUNT(1) AS n_docs FROM scored GROUP BY source),
      pp AS (SELECT source, COUNT(1) AS n_passed
             FROM passed GROUP BY source),
      ff AS (SELECT source, COUNT(1) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
               ROUND(CAST(CAST(SUM(CAST(q AS DECIMAL(28,10))) AS VARCHAR)
                 AS DOUBLE) / COUNT(q), 6) AS avg_quality
             FROM kept GROUP BY source)
      SELECT t.source, n_docs,
        COALESCE(n_passed, 0) AS n_passed,
        COALESCE(n_kept, 0) AS n_kept,
        COALESCE(kept_tokens, 0) AS kept_tokens,
        avg_quality
      FROM t LEFT JOIN pp USING (source) LEFT JOIN ff USING (source)
      ORDER BY source""")),

    // ---- Count-Min point queries in the EXACT regime: build the
    //      4×4096 CMS over the (lang, source) pair key (one pass,
    //      elementwise-mergeable partials — 128 KB of state per
    //      partition regardless of corpus size), then answer point
    //      frequency queries for every observed pair against it. The
    //      key domain is ≤ ~100 pairs at any SF, far under the 4096
    //      counters per row, so for each key at least one of the 4
    //      rows is collision-free and the min IS the exact count —
    //      hash-matched against DuckDB's GROUP BY (t20's Space-Saving
    //      exactness pattern, the CMS instance). Complements t20:
    //      Space-Saving finds WHICH keys are heavy; CMS answers "how
    //      often did THIS key occur" for any key decided after the
    //      scan. The sketch and the probe list are bounded driver
    //      collects (the s10 LUT pattern). The full-vocabulary SCALE
    //      regime (collisions, one-sided ε-bound) is pinned in
    //      OpsSpec on the same sketch type. ----
    QuerySpec(
      "t25_cms_counts",
      (s, d) => {
        import s.implicits._
        val depth = 4; val width = 4096
        val cms = udaf(new graft.functions.Aggregators.CountMin(depth, width),
          org.apache.spark.sql.Encoders.STRING)
        val pairs = Tables.documents(s, d)
          .select(col("lang"), col("source"),
            concat_ws(":", col("lang"), col("source")).as("t"))
        val sketch = pairs.agg(cms(col("t")).as("s"))
          .head.getSeq[Long](0) // depth×width longs — bounded
        val keys = pairs.groupBy(col("lang"), col("source"), col("t"))
          .agg(count(lit(1)).as("n"))
          .collect() // ≤ |lang|×|source| rows — bounded
          .map(r => (r.getString(0), r.getString(1), r.getString(2),
            r.getLong(3)))
        keys.toSeq.map { case (lang, source, t, n) =>
          val est = graft.functions.Aggregators.CountMin
            .estimate(sketch, t, depth, width)
          // the exact regime here is EMPIRICAL, not structural (unlike
          // t20's capacity ≥ vocabulary): ~100 keys in 4×4096 counters
          // collide in all 4 rows with probability ~3e-7 per key, and
          // the outcome is a fixed function of the key strings. Fail
          // LOUDLY with the colliding key if a fixture change ever
          // lands on one, instead of surfacing as a bare oracle
          // hash mismatch with no code bug to find.
          require(est == n,
            s"CMS exact-regime collision: key '$t' est $est != exact $n " +
              "(all 4 rows collided — widen the sketch or drop the oracle)")
          (lang, source, n, est)
        }.toDF("lang", "source", "n_exact", "n_cms")
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, COUNT(1) AS n_exact,
        CAST(COUNT(1) AS BIGINT) AS n_cms
      FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // ---- deterministic train/validation/test split: route each doc
    //      by the first hex char of md5(doc_id) — 12/16 train, 2/16
    //      validation, 2/16 test. The property that matters for a
    //      training pipeline: membership is a pure function of the
    //      stable id, so re-runs, engine changes, partitioning, and
    //      corpus growth NEVER move an existing doc across splits (no
    //      leakage from shuffled resplits). md5 hex is identical in
    //      Spark and DuckDB, so the oracle hash-checks the whole
    //      assignment. Per-row projection, one bounded groupBy —
    //      nothing to shuffle but 3 rollup rows at any corpus size. ----
    QuerySpec(
      "t26_hash_split",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        Tables.documents(s, d)
          .withColumn("split",
            when(h < "c", "train")
              .when(h < "e", "validation")
              .otherwise("test"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("split")
      },
      Some("""SELECT split, COUNT(1) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM (SELECT doc_id, n_chars,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                     THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                     THEN 'validation'
                   ELSE 'test' END AS split
            FROM documents) t
      GROUP BY split ORDER BY split""")),

    // ---- inverted index: term → sorted posting list of documents
    //      containing it, with document frequency — the retrieval-side
    //      primitive (term lookup, contamination tracing, "which docs
    //      say X"). One distinct on (term, doc) then one groupBy term:
    //      both shuffle on the term key, postings build map-side. The
    //      scale answer is visible in the query itself: `df` stays
    //      exact for every term while the materialized posting list is
    //      CAPPED at 100 entries (real indexes shard/cap long postings
    //      — an uncapped stopword list at 100 TB is the corpus). The
    //      cap bounds the AGG BUFFER, not just the output: the
    //      row_number ranks first (sort-based window, streaming state)
    //      and collect_list sees only rank ≤ 100 (nulls are skipped),
    //      so no executor ever holds a full stopword posting list.
    //      The groupBy rides the window's term partitioning — one
    //      shuffle total. Postings serialize to a comma string: flat
    //      scalars, the driver comparator can hash them. ----
    QuerySpec(
      "t27_inverted_index",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("t")).orderBy(col("doc_id"))
        // (doc, term) uniqueness is PER-DOC uniqueness — array_distinct
        // inside the row replaces a corpus-wide distinct() shuffle
        Tables.documents(s, d)
          .select(col("doc_id"), explode(array_distinct(toks)).as("t"))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("df"),
            concat_ws(",", sort_array(
              collect_list(when(col("rn") <= 100, col("doc_id")))))
              .as("postings"))
          .orderBy(desc("df"), col("t")).limit(20)
      },
      Some("""SELECT t, COUNT(1) AS df,
        array_to_string(
          list_slice(list_sort(list(doc_id)), 1, 100), ',') AS postings
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents) td
      GROUP BY t ORDER BY df DESC, t LIMIT 20""")),

    // ---- sliding-window duplicated-span detection (the exact-
    //      substring dedup signal of Lee et al. 2021, "Deduplicating
    //      Training Data Makes Language Models Better", at token-window
    //      granularity): EVERY overlapping 8-token window of every doc
    //      is counted corpus-wide; a window seen ≥2 times marks a
    //      duplicated span. Unlike t23's disjoint 16-token chunks this
    //      catches copied passages at ANY token offset. Per doc we
    //      report the window count, how many are duplicated, and the
    //      LONGEST CONSECUTIVE duplicated run (k consecutive duplicated
    //      8-windows ⇔ a duplicated substring of k+7 tokens) via the
    //      classic idx − row_number() islands trick — a bounded
    //      per-doc sort, no self-join. The corpus-wide count runs on
    //      xxhash64 of the window, not the string: the shuffle moves
    //      8-byte keys instead of ~45-byte strings, and counts on the
    //      hash equal counts on the string up to 64-bit collisions
    //      (~1e-10 at the oracle SF — the t08/t09 shingle-hashing
    //      adjudication; the oracle counts strings, so a collision
    //      would surface as a hash-mismatch). Boilerplate hot spans
    //      hit the q31/q42 salted-agg pattern at scale; the plan
    //      shape — project, count, islands — is unchanged. Integer
    //      math end-to-end → oracle hash-matches. ----
    QuerySpec(
      "t28_span_dedup",
      (s, d) => {
        val nWin = (size(toks) - 7).cast("int")
        // collapsed per text: the window sequence is a pure function of
        // the text and a window value's corpus count sums the group
        // size m, so the c ≥ 2 cut selects the same positions for
        // every member (same widx sequence ⇒ same runs); n_windows
        // comes off the member's own text
        val mapping = Collapse.texts(s, d)
        // fused NgramHashes kernel (ordered, non-distinct): same
        // hashes as posexploding the window strings and hashing after
        // — but one codegen'd pass instead of an interpreted HOF that
        // re-splits the text per window (ExprEquivSpec)
        val wins = mapping.reps
          .select(col("rep"), col("m"),
            posexplode(graft.functions.TextExprs
              .ngramHashes(toks, 8, distinct = false)))
          .toDF("rep", "m", "widx", "wh")
        val dupWins = wins
          .withColumn("c", sum(col("m")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("wh"))))
          .filter(col("c") >= 2)
        // islands: consecutive widx values share (widx - row_number())
        val byRep = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rep")).orderBy(col("widx"))
        val runs = dupWins
          .withColumn("grp", col("widx") - row_number().over(byRep))
          .groupBy(col("rep"), col("grp")).agg(count(lit(1)).as("run"))
          .groupBy(col("rep"))
          .agg(sum(col("run")).as("n_dup_l"), max(col("run")).as("max_run_l"))
        mapping.attach(runs, greatest(nWin, lit(0)).as("n_windows"))
          .select(col("doc_id"), col("n_windows"),
            col("n_dup_l").as("n_dup_windows"),
            col("max_run_l").cast("int").as("max_run"))
          .orderBy("doc_id")
      },
      Some("""WITH wins AS (
        SELECT doc_id, i AS widx,
          array_to_string(toks[(i+1):(i+8)], ' ') AS win
        FROM (
          SELECT doc_id, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(len(str_split(text, ' ')) AS INT) - 8)) AS i
          FROM documents
          WHERE len(str_split(text, ' ')) >= 8) t),
      dup AS (
        SELECT doc_id, widx FROM (
          SELECT doc_id, widx, COUNT(1) OVER (PARTITION BY win) AS c
          FROM wins) w WHERE c >= 2),
      runs AS (
        SELECT doc_id, COUNT(1) AS run FROM (
          SELECT doc_id, widx,
            widx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx)
              AS grp
          FROM dup) g GROUP BY doc_id, grp),
      per_doc AS (
        SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_dup_windows,
          CAST(MAX(run) AS INT) AS max_run
        FROM runs GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(greatest(len(str_split(d.text, ' ')) - 7, 0) AS INT)
          AS n_windows,
        COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
        COALESCE(p.max_run, 0) AS max_run
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- dedup REWRITE: the APPLY step t23/t28 only measure. Every
    //      16-token chunk keeps its FIRST corpus-wide occurrence (by
    //      (doc_id, chunk_idx) — deterministic, order-stable) and
    //      every later occurrence is dropped; each doc is rebuilt from
    //      its surviving chunks in order. This is the Lee et al. 2021
    //      "remove duplicated substrings" transform at fixed
    //      granularity: boilerplate survives exactly once, everywhere
    //      else it vanishes. One window over the chunk key (same
    //      shuffle shape as t28's count — hash the chunk at 100 TB),
    //      then a per-doc ordered rebuild (sort_array over that doc's
    //      own chunks — bounded per doc). The rebuilt text rides the
    //      driver compare as a flat string, so the oracle hash-checks
    //      the REWRITE itself, not just its counts. ----
    QuerySpec(
      "t31_dedup_rewrite",
      (s, d) => {
        // presplit tk before the lambda — same rationale as t23
        val nChunks = ceil(size(col("tk")) / 16.0).cast("int")
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"),
            posexplode(when(nChunks > 0,
              transform(sequence(lit(0), nChunks - 1),
                i => array_join(slice(col("tk"), i * 16 + 1, lit(16)), " ")))
              .otherwise(array().cast("array<string>"))))
          .toDF("doc_id", "ci", "chunk")
        val wFirst = org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk")).orderBy(col("doc_id"), col("ci"))
        chunks
          .withColumn("keep", row_number().over(wFirst) === 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            array_join(transform(filter(
              sort_array(collect_list(struct(col("ci"), col("keep"),
                col("chunk")))),
              x => x.getField("keep")), x => x.getField("chunk")), " ")
              .as("new_text"))
          .orderBy("doc_id")
      },
      Some("""WITH chunks AS (
        SELECT doc_id, i AS ci,
          array_to_string(toks[(i*16+1):(i*16+16)], ' ') AS chunk
        FROM (
          SELECT doc_id, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(ceil(len(str_split(text, ' ')) / 16.0) AS INT) - 1))
              AS i
          FROM documents) t),
      flagged AS (
        SELECT doc_id, ci, chunk,
          ROW_NUMBER() OVER (PARTITION BY chunk
            ORDER BY doc_id, ci) = 1 AS keep
        FROM chunks)
      SELECT doc_id, COUNT(1) AS n_chunks,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        COALESCE(string_agg(chunk, ' ' ORDER BY ci)
          FILTER (WHERE keep), '') AS new_text
      FROM flagged GROUP BY doc_id ORDER BY doc_id""")),

    // ---- mixture REBALANCING sampler: materialize the t22 recipe.
    //      Each source's sampling rate is min(1, target_share /
    //      actual_share) — sources over-represented relative to their
    //      √tokens target get thinned, the rest pass whole — and
    //      acceptance is DETERMINISTIC per doc: u(doc_id) =
    //      (doc_id·2654435761 mod 2³²)/2³² < rate (Knuth's
    //      multiplicative hash — pure 64-bit integer math, so both
    //      engines draw the same "random" number and the oracle
    //      hash-matches a *sampler*). Plan: one bounded-key groupBy
    //      for the rate table (≤|sources| rows, broadcast back), one
    //      row-local accept filter, one bounded-key report groupBy —
    //      no corpus shuffle at any width; at 100 TB the rate table is
    //      still |sources| rows and the accept pass is map-only,
    //      which is why hash-gated sampling (not reservoir/rand())
    //      is how training mixtures are actually drawn. ----
    QuerySpec(
      "t30_mixture_sample",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(toks).cast("long")).as("n_tokens"))
          .withColumn("w", sqrt(col("n_tokens").cast("double")))
        val tots = bySrc.agg(
          aggregate(sort_array(collect_list(col("w"))), lit(0.0),
            (acc, x) => acc + x).as("totw"),
          sum(col("n_tokens")).as("tott"))
        val rates = bySrc.crossJoin(broadcast(tots))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            least(lit(1.0), col("w") / col("totw") *
              col("tott").cast("double") / col("n_tokens").cast("double"))
              .as("rate"))
        // (doc_id·K) mod 2³² via split multiply — doc_id·K directly
        // overflows Long once ids pass ~3.5e9 (the sf1 rehearsal's
        // reseeded keys did; real corpus ids would too). Reduce first
        // (multiplication mod 2³² respects it), then 16-bit-split so
        // every intermediate stays under 2⁴⁹ — bitwise-identical to
        // the naive form wherever that form doesn't overflow.
        val K = 2654435761L
        val a = pmod(col("doc_id"), lit(4294967296L))
        val a1 = floor(a / lit(65536L)).cast("long")
        val a0 = pmod(a, lit(65536L))
        val u = pmod(
          pmod(a1 * lit(K), lit(4294967296L)) * lit(65536L) + a0 * lit(K),
          lit(4294967296L)).cast("double") / lit(4294967296.0)
        val kept = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), size(toks).as("nt"))
          .join(broadcast(rates.select(col("source"), col("rate"))),
            "source")
          .filter(u < col("rate"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs_kept"),
            sum(col("nt").cast("long")).as("tokens_kept"))
        rates.join(broadcast(kept), Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("rate"),
            coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy("source")
      },
      Some("""WITH bysrc AS (
        SELECT source, COUNT(1) AS n_docs,
          CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
          sqrt(CAST(SUM(len(str_split(text, ' '))) AS DOUBLE)) AS w
        FROM documents GROUP BY source),
      tots AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_sort(list(w))), (acc, x) -> acc + x) AS totw,
          CAST(SUM(n_tokens) AS BIGINT) AS tott FROM bysrc),
      rates AS (
        SELECT source, n_docs, n_tokens,
          least(1.0, w / totw * CAST(tott AS DOUBLE)
            / CAST(n_tokens AS DOUBLE)) AS rate
        FROM bysrc, tots),
      kept AS (
        SELECT d.source, COUNT(1) AS docs_kept,
          CAST(SUM(len(str_split(d.text, ' '))) AS BIGINT) AS tokens_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE CAST(((((d.doc_id % 4294967296) // 65536 * 2654435761)
            % 4294967296) * 65536
            + (d.doc_id % 65536) * 2654435761) % 4294967296 AS DOUBLE)
          / 4294967296.0 < r.rate
        GROUP BY d.source)
      SELECT r.source, r.n_docs, r.n_tokens, r.rate,
        COALESCE(k.docs_kept, 0) AS docs_kept,
        COALESCE(k.tokens_kept, 0) AS tokens_kept
      FROM rates r LEFT JOIN kept k ON r.source = k.source
      ORDER BY r.source""")),

    // ---- token-budget selection: keep the highest-quality docs
    //      until a token budget (25% of the corpus) is spent — the
    //      "take the best N tokens" curation cut every data recipe
    //      ends with. The global ordered prefix sum is built the
    //      DISTRIBUTED way: docs bucket by floor(quality·20) (a
    //      monotone function of the sort key, so bucket-then-within
    //      order ≡ global order), the running sum is a window WITHIN
    //      each bounded bucket, and the ≤21 bucket totals become
    //      broadcast offsets. The DOC-sized window is hash-partitioned
    //      (PlanSpec asserts it partitions by bkt); the only
    //      unpartitioned window runs over the ≤21 bucket-total rows —
    //      bounded by the quality range, not the corpus, which is
    //      what the classic global-cumsum anti-pattern gets wrong.
    //      Quality is the exact t04 arithmetic, so both
    //      engines order identically and the oracle — which uses the
    //      naive SUM() OVER (ORDER BY …) — hash-matches the
    //      distributed formulation. ----
    QuerySpec(
      "t32_budget_select",
      (s, d) => {
        val nTok = size(toks).cast("long")
        val base = Tables.documents(s, d)
          .select(col("doc_id"), nTok.as("n_tokens"),
            qualityExpr.as("quality"))
          .withColumn("bkt", floor(col("quality") * 20).cast("int"))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bkt"))
          .orderBy(desc("quality"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val withIn = base.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
        // bucket totals -> cumulative offset of every HIGHER bucket
        // (bounded: ≤ 21 rows, broadcast back)
        val wOff = org.apache.spark.sql.expressions.Window
          .orderBy(desc("bkt"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        val offsets = base.groupBy(col("bkt"))
          .agg(sum(col("n_tokens")).as("bt"))
          .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
          .select(col("bkt"), col("off"))
        val budget = base.agg((sum(col("n_tokens")) / 4).cast("long")
          .as("budget"))
        withIn.join(broadcast(offsets), "bkt")
          .crossJoin(broadcast(budget))
          .select(col("doc_id"), col("n_tokens"),
            (col("off") + col("cum_in")).as("cum_tokens"),
            ((col("off") + col("cum_in")) <= col("budget"))
              .as("selected"))
          .orderBy("doc_id")
      },
      Some("""WITH q AS (
        SELECT doc_id,
          CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
          LEAST(CAST(len(str_split(text, ' ')) AS DOUBLE)/100.0, 1.0)
              * 0.4
            + (CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
               / len(str_split(text, ' '))) * 0.4
            + LEAST((CAST(len(list_filter(str_split(text, ' '),
                t -> list_contains(['the','a','of','and','to','in'], t)))
              AS DOUBLE) / len(str_split(text, ' '))) * 5.0, 1.0) * 0.2
            AS quality
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM q),
      b AS (SELECT CAST(SUM(n_tokens) // 4 AS BIGINT) AS budget FROM q)
      SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        cum_tokens <= budget AS selected
      FROM c, b ORDER BY doc_id""")),

    // ---- model-based quality filter: score every doc under the
    //      in-engine-trained hashed-TF linear classifier ([[lrModel]])
    //      — HASH-MATCHED INCLUDING THE TRAINING RUN since round 12:
    //      the link is the rational sigmoid (no exp/log), every
    //      reduction is the tick-exact dsum128/davg128 contract, the
    //      feature hash is the portable polyHash, and the reported
    //      score is the linear margin — so the oracle replays all 40
    //      preconditioned-momentum GD iterations as unrolled CTEs
    //      ([[lrOracleSql]]) and lands the identical weights, margins
    //      and predictions. OpsSpec additionally binds convergence:
    //      Brier loss strictly falls and training accuracy clears 0.9
    //      against the distilled quality band — the cheap-linear-
    //      model-distills-expensive-signal pattern real curation
    //      pipelines (CCNet, DCLM) run at scale. ----
    QuerySpec(
      "t29_classifier_score",
      (s, d) => lrScore(s, d),
      Some(lrOracleSql())),

    // ---- Gopher-style rule filter (Rae et al. 2021, "Scaling
    //      Language Models: Methods, Analysis & Insights from
    //      Training Gopher", table A1): the heuristic document-
    //      quality gates every big text pipeline runs BEFORE any
    //      model-based scoring — word count bounds, mean-word-length
    //      band, stopword floor, and a repetition gate (share of the
    //      single most frequent token). All four metrics are per-row
    //      HOF projections over the token array: zero shuffles, zero
    //      UDFs, embarrassingly parallel at any scale. Ratios are
    //      int/int divisions so both engines produce the identical
    //      doubles and the boolean gate hash-matches. ----
    QuerySpec(
      "t33_gopher_rules",
      (s, d) => {
        val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
        val nW = size(toks)
        val meanLen = aggregate(toks, lit(0), (acc, w) => acc + length(w))
          .cast("double") / nW
        val stopRatio =
          size(filter(toks, t => array_contains(stop, t))).cast("double") / nW
        // fused O(n) hash-count kernel; the declarative form —
        // array_max(transform(array_distinct(ts), t => size(filter(
        // ts, x => x === t)))) — is O(distinct·n) per row and was the
        // whole query's cost (ExprEquivSpec pins value equality)
        val topTokenRatio =
          graft.functions.TextExprs.topTokenFreq(toks).cast("double") / nW
        Tables.documents(s, d)
          .select(col("doc_id"), nW.as("n_words"),
            meanLen.as("mean_word_len"), stopRatio.as("stop_ratio"),
            topTokenRatio.as("top_token_ratio"))
          .withColumn("pass",
            col("n_words").between(50, 100000) &&
              col("mean_word_len").between(3.0, 10.0) &&
              col("stop_ratio") >= 0.02 && col("top_token_ratio") <= 0.3)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws
        FROM documents),
      m AS (SELECT doc_id,
        CAST(len(ws) AS INT) AS n_words,
        CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE)
          / len(ws) AS mean_word_len,
        CAST(len(list_filter(ws,
            t -> list_contains(['the','a','of','and','to','in'], t)))
          AS DOUBLE) / len(ws) AS stop_ratio,
        CAST(list_max(list_transform(list_distinct(ws),
            t -> len(list_filter(ws, x -> x = t))))
          AS DOUBLE) / len(ws) AS top_token_ratio
      FROM w)
      SELECT doc_id, n_words, mean_word_len, stop_ratio, top_token_ratio,
        (n_words BETWEEN 50 AND 100000
          AND mean_word_len BETWEEN 3.0 AND 10.0
          AND stop_ratio >= 0.02 AND top_token_ratio <= 0.3) AS pass
      FROM m ORDER BY doc_id""")),

    // ---- deterministic per-group uniform sample: bottom-k by a
    //      fixed hash (the KMV/bottom-k sketch idea, Bar-Yossef et
    //      al. 2002, applied as a sampler). Classic reservoir
    //      sampling is ORDER-DEPENDENT — under Spark's nondetermin-
    //      istic partition/merge order it returns a different sample
    //      every run, which is poison for reproducible training
    //      sets. Keeping the k records with the SMALLEST md5(key)
    //      instead is a pure function of the input SET: merge-
    //      associative (a typed Aggregator with map-side partials,
    //      bounded k memory per group), exactly reproducible across
    //      runs/cluster sizes, and still uniform because the hash is
    //      uncorrelated with content. That purity is what lets the
    //      oracle HASH-CHECK a sampler — impossible for any RNG
    //      reservoir. ----
    QuerySpec(
      "t34_bottomk_sample",
      (s, d) => {
        import s.implicits._
        val agg = new graft.functions.Aggregators.BottomKByHash(4)
        Tables.documents(s, d)
          .select(col("lang"),
            md5(col("doc_id").cast("string")).as("h"), col("doc_id"))
          .as[(String, String, Long)]
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(agg.toColumn.name("sample_ids"))
          .toDF("lang", "sample_ids")
          .orderBy("lang")
      },
      Some("""SELECT lang,
        string_agg(CAST(doc_id AS VARCHAR), ','
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_ids
      FROM (SELECT lang, doc_id,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents) t
      WHERE rk <= 4 GROUP BY lang ORDER BY lang""")),

    // ---- split-drift audit: Pearson chi-square contingency of
    //      language composition ACROSS the t26 train/validation/test
    //      splits — the check a pipeline runs before trusting a split
    //      (a validation set whose language mix drifts from train
    //      invalidates every eval on it). Expected cell count is the
    //      independence model e = rowTot·colTot/N; the statistic sums
    //      (o−e)²/e over the |splits|×|langs| table. Everything
    //      derives from ONE groupBy on the (split, lang) cell — the
    //      marginals are bounded relations broadcast back, the
    //      per-cell arithmetic is single-rounded IEEE division on
    //      integer counts, so the oracle hash-matches the statistic
    //      bitwise. At 100 TB: one shuffle of pre-aggregated cells;
    //      the contingency table itself never exceeds splits×langs
    //      rows no matter the corpus. ----
    QuerySpec(
      "t35_split_drift",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        val cells = Tables.documents(s, d)
          .withColumn("split",
            when(h < "c", "train")
              .when(h < "e", "validation")
              .otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("o"))
        val rowTot = cells.groupBy("split")
          .agg(sum(col("o")).as("rt"))
        val colTot = cells.groupBy("lang")
          .agg(sum(col("o")).as("ct"))
        val n = cells.agg(sum(col("o")).as("n"))
        val e = col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")
        cells
          .join(broadcast(rowTot), "split")
          .join(broadcast(colTot), "lang")
          .crossJoin(broadcast(n))
          .select(col("split"), col("lang"), col("o"), e.as("e"),
            ((col("o").cast("double") - e) * (col("o").cast("double") - e)
              / e).as("contrib"))
          .orderBy("split", "lang")
      },
      Some("""WITH cells AS (
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                 THEN 'validation'
               ELSE 'test' END AS split,
          lang, COUNT(1) AS o
        FROM documents GROUP BY 1, 2),
      rt AS (SELECT split, CAST(SUM(o) AS BIGINT) AS rt
             FROM cells GROUP BY split),
      ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct
             FROM cells GROUP BY lang),
      n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
      SELECT c.split, c.lang, c.o,
        CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(n.n AS DOUBLE)
          AS e,
        (CAST(c.o AS DOUBLE)
           - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
             / CAST(n.n AS DOUBLE))
          * (CAST(c.o AS DOUBLE)
             - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
               / CAST(n.n AS DOUBLE))
          / (CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
             / CAST(n.n AS DOUBLE)) AS contrib
      FROM cells c JOIN rt r USING (split) JOIN ct t USING (lang), n
      ORDER BY split, lang""")),

    // ---- BM25 top-k retrieval (Robertson/Sparck Jones; k1=1.2,
    //      b=0.75): the LEXICAL half of hybrid retrieval, next to the
    //      vector chain (s03…s16) and over the same corpus as t27's
    //      inverted index. Everything is one token scan restricted to
    //      the query vocabulary (a 9-term broadcast): tf per
    //      (doc, term), df per term from those postings, corpus
    //      length stats as a broadcast scalar — no full-vocab state
    //      anywhere, so the plan carries O(matching postings), not
    //      O(corpus vocabulary). Per-term weights are single-rounded
    //      IEEE arithmetic on integer counts (both engines compute
    //      the identical double, ln included to ≤1 ulp); the per-doc
    //      SUM crosses the order-dependence line and takes the
    //      decimal-exact dsum hop, so ranking and the rounded score
    //      hash-match. Ties (duplicate docs score identically) break
    //      on doc_id in both engines. At 100 TB: query-vocab
    //      restriction prunes the token explode at the scan, the only
    //      shuffle is the (doc, term)→(doc) rollup of ≤|q| rows per
    //      doc, and top-10-per-query is a bounded window. ----
    QuerySpec(
      "t36_bm25_topk",
      (s, d) => {
        import s.implicits._
        val sc = bm25Scores(s, d, RetrievalQueryTerms.toDF("qid", "t"))
        val rk = Window.partitionBy(col("qid"))
          .orderBy(desc("score"), col("doc_id"))
        sc.withColumn("rk", row_number().over(rk))
          .filter(col("rk") <= 10)
          .select(col("qid"), col("rk"), col("doc_id"),
            round(col("score"), 6).as("score"))
          .orderBy("qid", "rk")
      },
      Some(s"""WITH $bm25SqlCtes,
      ranked AS (SELECT qid, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc_id) AS INT) AS rk
             FROM sc)
      SELECT qid, rk, doc_id, ROUND(score, 6) AS score
      FROM ranked WHERE rk <= 10 ORDER BY qid, rk""")),

    // ---- character-entropy quality signal: Shannon entropy of the
    //      per-doc character distribution, in bits/char — the cheap
    //      gibberish/repetition gate web-scale pipelines run before
    //      anything tokenizes (boilerplate, key-mashing, and
    //      single-char floods all crater it; normal prose sits near
    //      the corpus band, here ≈3.7–4.2). Each −p·log₂p term is
    //      single-rounded IEEE on integer counts (identical doubles
    //      in both engines); the per-doc sum crosses the order-
    //      dependence line and takes the decimal-exact dsum hop, so
    //      the statistic hash-matches bitwise. One explode + one
    //      (doc, char) rollup — state is ≤ |alphabet| rows per doc
    //      regardless of corpus size, and the gate composes with
    //      t04/t13/t33 in the same scan pass. ----
    QuerySpec(
      "t37_char_entropy",
      (s, d) => {
        // FULLY ROW-LOCAL since r16: the fused [[graft.functions
        // .TextExprs.CharCounts]] kernel already yields each doc's
        // ≤|alphabet| counts in one row, so the entropy needs NO
        // explode, NO self-join and NO aggregation exchange at all —
        // n, k and the entropy fold are higher-order array
        // expressions over that map's values (guide §2.4: the r15
        // plan exploded the counts, re-aggregated them per doc, then
        // shuffled BOTH sides of a doc_id self-join to glue n back
        // on). Numerically identical to the aggregate form: each
        // −p·log₂p term is the same IEEE tree, [[TickExprs
        // .decimalTicks]] quantizes it exactly as dsum128 did, and
        // the in-array long tick sum equals the 128-bit accumulator's
        // (per-doc Σ|term| = the doc's entropy ≤ log₂|alphabet| —
        // nowhere near the 9.2×10⁸ single-long bound), finished by
        // the identical one correctly-rounded ticksToDouble.
        val tks = graft.functions.TickExprs
        val base = Tables.documents(s, d)
          .select(col("doc_id"),
            map_values(graft.functions.TextExprs.charCounts(col("text")))
              .as("cs"))
          .select(col("doc_id"), col("cs"),
            aggregate(col("cs"), lit(0L), (a, c) => a + c).as("n"),
            size(col("cs")).as("k"))
        base
          .select(col("doc_id"), col("n"), col("k"),
            tks.ticksToDouble(aggregate(col("cs"), lit(0L), (a, c) => {
              val p = c.cast("double") / col("n")
              a + tks.decimalTicks(-p * log2(p))
            })).as("ent"))
          .select(col("doc_id"), col("n").as("n_chars"),
            col("k").cast("int").as("n_distinct"),
            round(col("ent"), 6).as("entropy_bits"),
            (round(col("ent"), 6) < 3.9).as("low_entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents),
      cnt AS (SELECT doc_id, ch, COUNT(1) AS c FROM chars GROUP BY 1, 2),
      n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
              CAST(COUNT(1) AS INT) AS k FROM cnt GROUP BY 1),
      e AS (SELECT c.doc_id, n.n, n.k,
              ${dsumSql(
                "-(CAST(c.c AS DOUBLE) / n.n) " +
                  "* log2(CAST(c.c AS DOUBLE) / n.n)")} AS ent
            FROM cnt c JOIN n ON c.doc_id = n.doc_id
            GROUP BY 1, 2, 3)
      SELECT doc_id, n AS n_chars, k AS n_distinct,
        ROUND(ent, 6) AS entropy_bits,
        ROUND(ent, 6) < 3.9 AS low_entropy
      FROM e ORDER BY doc_id""")),

    // ---- cross-split DECONTAMINATION: near-duplicate leakage between
    //      the t26 train split and the test split — the eval-integrity
    //      check every training pipeline runs before trusting a
    //      benchmark number (a test doc whose 3-gram Jaccard vs some
    //      train doc is >= 0.8 is a contaminated eval item). The query
    //      runs the PRODUCTION path: MinHash band keys (t09's fused
    //      signature kernel) on each side, band-bucket equi-join for
    //      candidates — O(N·bands), never the cross-split all-pairs —
    //      then exact Jaccard verification on candidates only. The
    //      ORACLE is the exact all-pairs cross join, so the hash-match
    //      is a 100%-recall proof of the LSH path at this threshold
    //      (1-(1-0.8^4)^18 ≈ 0.99992 per pair), same adjudication as
    //      t09. Splits are md5-hash-stable (t26), so the report is
    //      reproducible under any partitioning or corpus growth. ----
    QuerySpec(
      "t39_split_decontam",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        // The WHOLE pipeline runs at the duplicate-representative
        // level and expands members last: a doc's band keys,
        // shingle set, and therefore every pairwise jaccard ARE its
        // representative's (identical text), so candidates come from
        // the session-memoized [[repBandKeys]] relation restricted
        // to reps with members in each split, verification touches
        // only rep shingle arrays (one fused shingle pass over
        // DISTINCT texts, not the corpus), and the member expansion
        // joins ship 8-byte ids — the wide arrays never ride the
        // copy-quadratic cross-split pair relation. An intra-rep
        // cross-split pair (the same text leaked verbatim) surfaces
        // as the (r, r) band self-match with jaccard exactly 1.
        val mapping = Collapse.texts(s, d)
        val m = mapping.rows
          .select(col("doc_id"), col("rep"),
            when(h < "c", "train").when(h < "e", "validation")
              .otherwise("test").as("split"))
        val keys = repBandKeys(s, d)
        val testB = keys.toDF("ra", "band", "bh")
          .join(m.filter(col("split") === "test")
            .select(col("rep").as("ra")).distinct(), "ra")
        val trainB = keys.toDF("rb", "band", "bh")
          .join(m.filter(col("split") === "train")
            .select(col("rep").as("rb")).distinct(), "rb")
        val repCands = testB.join(trainB, Seq("band", "bh"))
          .select("ra", "rb").distinct()
        val repSh = Scoped.persist(mapping.reps
          .select(col("rep"), shingles.as("sh"))
          .filter(size(col("sh")) > 0))
        val repPairs = repCands
          .join(repSh.toDF("ra", "sha"), "ra")
          .join(repSh.toDF("rb", "shb"), "rb")
          .select(col("ra"), col("rb"),
            graft.functions.TextExprs
              .sortedIntersectCount(col("sha"), col("shb")).as("ni"),
            size(col("sha")).as("na"), size(col("shb")).as("nb"))
          .select(col("ra"), col("rb"),
            (col("ni").cast("double") /
              (col("na") + col("nb") - col("ni"))).as("jaccard"))
          .filter(col("jaccard") >= 0.8)
        repPairs
          .join(m.filter(col("split") === "test")
            .select(col("rep").as("ra"), col("doc_id").as("test_doc")),
            "ra")
          .join(m.filter(col("split") === "train")
            .select(col("rep").as("rb"), col("doc_id").as("train_doc")),
            "rb")
          .select(col("test_doc"), col("train_doc"), col("jaccard"))
          .orderBy("test_doc", "train_doc")
      },
      Some(s"""WITH sp AS (
        SELECT doc_id,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                 THEN 'validation'
               ELSE 'test' END AS split
        FROM documents),
      shs AS (
        SELECT g.doc_id, g.s, sp.split
        FROM ($shinglesSql) g JOIN sp USING (doc_id)),
      sizes AS (SELECT doc_id, COUNT(1) AS n FROM shs GROUP BY 1),
      i AS (
        SELECT a.doc_id AS test_doc, b.doc_id AS train_doc,
          COUNT(1) AS ni
        FROM shs a JOIN shs b ON a.s = b.s
        WHERE a.split = 'test' AND b.split = 'train'
        GROUP BY 1, 2)
      SELECT test_doc, train_doc,
        CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
      FROM i
      JOIN sizes sa ON i.test_doc = sa.doc_id
      JOIN sizes sb ON i.train_doc = sb.doc_id
      WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8
      ORDER BY test_doc, train_doc""")),

    // ---- BPE VOCABULARY TRAINING (Sennrich 2016): learn the first
    //      12 byte-pair merges from the corpus — the tokenizer-
    //      induction step a training-data engine must own, not just
    //      consume. Structure is the SentencePiece-at-scale shape:
    //      the ONLY corpus-scale stage is the word-frequency
    //      histogram (one shuffle on the word); every merge round
    //      then runs on the (distinct word, freq) MODEL table —
    //      millions of rows at web scale, never the corpus — as a
    //      distributed adjacent-pair count (weighted by freq, one
    //      shuffle on the pair key) + a 1-row argmax collect
    //      (count DESC, pair ASC — fully ordered, deterministic),
    //      and the chosen merge is applied ROW-LOCALLY via
    //      left-to-right non-overlapping string replace on the
    //      space-joined symbol state. Driver state after k rounds: k
    //      rows — bounded model, same rule as s08's centroids. The
    //      DuckDB oracle replays the identical loop as chained
    //      materialized CTEs, so rounds, tie-breaks, greedy
    //      application, and counts all hash-match. ----
    QuerySpec(
      "t38_bpe_merges",
      (s, d) => {
        import s.implicits._
        trainBpe(s, d)
          .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
          .orderBy("merge_round")
      },
      Some(bpeOracleSql(BpeRounds))),

    // ---- BPE TOKENIZATION: apply t38's learned merges to encode
    //      every document — the consumer half of vocabulary
    //      induction (train once, tokenize the corpus). The merge
    //      table is bounded model state (12 rows, session-memoized
    //      with t38), inlined into the plan as ONE fused codegen
    //      kernel (`bpe_token_count`: a token walk per merge, exact
    //      chained-replace semantics, ExprEquivSpec-pinned) — pure
    //      row-local projection, ZERO shuffles at any corpus size;
    //      word boundaries ride a '|' guard symbol no learned pair
    //      can contain, so merges never cross words. Output is the
    //      per-doc token count and compression ratio (raw IEEE
    //      division — bitwise-comparable, no rounding trade). The
    //      oracle replays training AND application, so the
    //      hash-match covers the full train→apply loop. Merge
    //      application shares bpeTrainCtes' documented deviation
    //      from canonical BPE on repeated-symbol runs (the replace
    //      consumes the shared trailing space) — identical in both
    //      engines, certified by the hash-match. ----
    QuerySpec(
      "t40_bpe_tokenize",
      (s, d) => {
        // fused kernel: token count straight from the text under the
        // learned merges — the declarative twin (spaced symbol string
        // + 12 chained replace passes, 13 full-length allocations per
        // row) lives on in ExprEquivSpec, which pins bitwise equality
        // including the consumed-trailing-space repeated-run edge.
        // collapsed per text: the merge walk is the whole query cost
        // and a pure function of the text (same text ⇒ bitwise-same
        // n_tokens/n_chars/division)
        val nTokens = graft.functions.TextExprs.bpeTokenCount(
          col("text"), learnedMergePairs(s, d))
        val nChars = length(translate(col("text"), " ", ""))
        Collapse.texts(s, d).perText(Seq("doc_id"), Seq(
            nTokens.as("n_tokens"),
            nChars.as("n_chars"),
            (nChars.cast("double") / nTokens).as("chars_per_token")))
          .orderBy("doc_id")
      },
      Some(bpeTokenizeSql(BpeRounds))),

    // ---- ROBUST OUTLIER DETECTION (median / MAD): per-language
    //      median(n_chars), MAD = median(|n_chars − med|), and the
    //      count of docs beyond 3·MAD — the heavy-tail-safe quality
    //      gate (mean/stddev gates break on the very outliers they
    //      hunt). EXACT percentiles on purpose: both engines
    //      interpolate the even-count midpoint on integer inputs to
    //      an exactly-representable half-integer double, so the whole
    //      table hash-matches — no approximate-quantile escape hatch
    //      needed. Two-pass shape (median needs a full pass before
    //      deviations exist): each pass is one groupBy(lang) shuffle
    //      and the per-lang medians ride back as a broadcast join.
    //      At 100 TB swap `percentile` for `approx_percentile` and
    //      the plan shape is unchanged (documented trade: the gate
    //      becomes approximate, the twin stays the anchor). ----
    QuerySpec(
      "t41_mad_outliers",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("lang"), col("n_chars"))
        val med = docs.groupBy("lang")
          .agg(expr("percentile(n_chars, 0.5)").as("med"))
        val dev = docs.join(broadcast(med), "lang")
          .withColumn("adev", abs(col("n_chars").cast("double") - col("med")))
        val mad = dev.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            first(col("med")).as("med"),
            expr("percentile(adev, 0.5)").as("mad"))
        dev.join(broadcast(mad.select(col("lang"), col("mad"))), "lang")
          .groupBy("lang")
          .agg(sum(when(col("adev") > lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
          .join(broadcast(mad), "lang")
          .select(col("lang"), col("n_docs"), col("med"), col("mad"),
            col("n_outliers"),
            (col("n_outliers").cast("double") / col("n_docs"))
              .as("outlier_frac"))
          .orderBy("lang")
      },
      Some("""WITH med AS (
        SELECT lang, quantile_cont(n_chars, 0.5) AS med,
          COUNT(1) AS n_docs
        FROM documents GROUP BY lang),
      dev AS (
        SELECT d.lang, ABS(CAST(d.n_chars AS DOUBLE) - m.med) AS adev
        FROM documents d JOIN med m ON d.lang = m.lang),
      mad AS (
        SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev
        GROUP BY lang)
      SELECT m.lang, m.n_docs, m.med, a.mad,
        CAST(SUM(CASE WHEN dv.adev > 3.0 * a.mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers,
        CAST(SUM(CASE WHEN dv.adev > 3.0 * a.mad THEN 1 ELSE 0 END)
          AS DOUBLE) / m.n_docs AS outlier_frac
      FROM dev dv JOIN med m ON dv.lang = m.lang
        JOIN mad a ON dv.lang = a.lang
      GROUP BY m.lang, m.n_docs, m.med, a.mad
      ORDER BY m.lang""")),

    // ---- CLASSIFIER CALIBRATION TABLE: bin the t04 quality score
    //      into width-0.1 deciles and report, per bin, the observed
    //      rate of the target ("long doc", n_chars ≥ 600) — the
    //      reliability diagram behind every score-threshold curation
    //      decision (is a 0.8-scored doc actually better than a 0.4?).
    //      Width bins, not quantile bins: the bin id is a pure row
    //      function, so the table is one scan + one 10-key shuffle and
    //      the oracle hash-matches without any percentile agreement
    //      concerns. ----
    QuerySpec(
      "t42_calibration",
      (s, d) => {
        val nTok = size(toks).cast("double")
        val stop = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
        val stopRatio =
          size(filter(toks, t => array_contains(stop, t))).cast("double") / nTok
        val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
        val lenScore = least(nTok / lit(100.0), lit(1.0))
        val quality = round(lenScore * lit(0.4) + distinctRatio * lit(0.4) +
          least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2), 6)
        Tables.documents(s, d)
          .select(quality.as("quality"),
            (col("n_chars") >= 600).cast("long").as("is_long"))
          .withColumn("bin",
            least(floor(col("quality") * 10), lit(9.0)).cast("int"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            davg128(col("quality")).as("avg_score"),
            sum(col("is_long")).as("n_long"))
          .withColumn("long_rate",
            col("n_long").cast("double") / col("n_docs"))
          .orderBy("bin")
      },
      Some(s"""WITH scored AS (
        SELECT
          ROUND(
            LEAST(CAST(len(str_split(text,' ')) AS DOUBLE)/100.0, 1.0) * 0.4
            + (CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
               / len(str_split(text,' '))) * 0.4
            + LEAST((CAST(len(list_filter(str_split(text,' '),
                t -> list_contains(['the','a','of','and','to','in'], t)))
              AS DOUBLE) / len(str_split(text,' '))) * 5.0, 1.0) * 0.2, 6)
            AS quality,
          CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END AS is_long
        FROM documents)
      SELECT CAST(LEAST(FLOOR(quality * 10), 9.0) AS INT) AS bin,
        COUNT(1) AS n_docs,
        ${davgSql("quality")} AS avg_score,
        CAST(SUM(is_long) AS BIGINT) AS n_long,
        CAST(SUM(is_long) AS DOUBLE) / COUNT(1) AS long_rate
      FROM scored GROUP BY 1 ORDER BY bin""")),

    // ---- cross-doc boilerplate signal: per-doc duplicate-text
    //      fraction by n-gram DOCUMENT frequency (the CCNet/RefinedWeb
    //      "dup fraction" quality gate). Distinct from t28 (which
    //      counts window OCCURRENCES, within-doc repeats included):
    //      here a 5-gram is boilerplate iff it appears in ≥3 DISTINCT
    //      docs, and each doc is scored by what fraction of its
    //      distinct 5-grams are boilerplate. Scale shape: windows
    //      dedup ROW-LOCALLY (array_distinct before the explode — the
    //      t10 vocabulary trick), so the exchange carries per-doc
    //      distinct 5-grams hashed to 8 bytes, never occurrences; DF
    //      is one window count over that hash (each doc contributes
    //      once by construction); the per-doc rollup reuses the same
    //      partitioning. At 100 TB: one shuffle of (doc, hash) pairs
    //      + a broadcast-free self-rollup — same budget as t28. ----
    QuerySpec(
      "t43_boiler_ngrams",
      (s, d) => {
        val nWin = (size(toks) - 4).cast("int")
        // fused NgramHashes kernel: hash-identical to exploding
        // array_distinct(transform(.. xxhash64(array_join(slice)))) —
        // the HOF form re-runs split(text) per window in the
        // interpreted evaluator (ExprEquivSpec pins the equivalence)
        // collapsed per text: the distinct-window set is a pure function
        // of the text and a window's document frequency sums the group
        // size m, so the df ≥ 3 cut is the same for every member
        val mapping = Collapse.texts(s, d)
        val wins = mapping.reps
          .select(col("rep"), col("m"),
            explode(graft.functions.TextExprs
              .ngramHashes(toks, 5, distinct = true)).as("wh"))
        val df = sum(col("m")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("wh")))
        val scored = wins
          .withColumn("df", df)
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_distinct_windows"),
            sum(when(col("df") >= 3, 1L).otherwise(0L))
              .as("n_boiler_windows"))
        mapping.attach(scored, greatest(nWin, lit(0)).as("n_windows"))
          .withColumn("boiler_ratio",
            when(col("n_distinct_windows") > 0,
              col("n_boiler_windows").cast("double") /
                col("n_distinct_windows")).otherwise(0.0))
          .withColumn("is_boiler", col("boiler_ratio") >= 0.5)
          .orderBy("doc_id")
      },
      Some("""WITH wins AS (
        SELECT DISTINCT doc_id,
          array_to_string(toks[(i+1):(i+5)], ' ') AS win
        FROM (
          SELECT doc_id, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(len(str_split(text, ' ')) AS INT) - 5)) AS i
          FROM documents
          WHERE len(str_split(text, ' ')) >= 5) t),
      scored AS (
        SELECT doc_id, COUNT(1) AS n_distinct,
          CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_boiler
        FROM (SELECT doc_id, COUNT(1) OVER (PARTITION BY win) AS df
              FROM wins) w
        GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(greatest(len(str_split(d.text, ' ')) - 4, 0) AS INT)
          AS n_windows,
        COALESCE(s.n_distinct, 0) AS n_distinct_windows,
        COALESCE(s.n_boiler, 0) AS n_boiler_windows,
        CASE WHEN COALESCE(s.n_distinct, 0) > 0
          THEN CAST(COALESCE(s.n_boiler, 0) AS DOUBLE) / s.n_distinct
          ELSE 0.0 END AS boiler_ratio,
        (CASE WHEN COALESCE(s.n_distinct, 0) > 0
          THEN CAST(COALESCE(s.n_boiler, 0) AS DOUBLE) / s.n_distinct
          ELSE 0.0 END) >= 0.5 AS is_boiler
      FROM documents d LEFT JOIN scored s USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- k-anonymity release with a generalization ladder: the
    //      privacy gate a dataset release runs AFTER t16's PII scrub.
    //      Quasi-identifier (lang, source); a group smaller than k is
    //      not released at full granularity — its rows generalize to
    //      (lang, *), and if even the language-level residue is under
    //      k it is suppressed outright into the (*, *) bucket. Pure
    //      aggregation algebra: one groupBy at each ladder rung over
    //      progressively tiny relations (|langs|, then 1 row) — at
    //      100 TB the only data-sized stage is the first groupBy, and
    //      it shuffles (lang, source, count) partials, not rows. ----
    QuerySpec(
      "t44_k_anonymity",
      (s, d) => {
        val k = 7
        val g = Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
        val big = g.filter(col("n") >= k)
          .select(col("lang"), col("source").as("source_out"), col("n"))
        val la = g.filter(col("n") < k)
          .groupBy(col("lang")).agg(sum(col("n")).as("m"))
        val langBig = la.filter(col("m") >= k)
          .select(col("lang"), lit("*").as("source_out"), col("m").as("n"))
        val supp = la.filter(col("m") < k)
          .agg(sum(col("m")).as("n")).filter(col("n").isNotNull)
          .select(lit("*").as("lang"), lit("*").as("source_out"), col("n"))
        big.unionByName(langBig).unionByName(supp)
          .select(col("lang"), col("source_out"), col("n").as("n_docs"))
          .orderBy("lang", "source_out")
      },
      Some("""WITH g AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source),
      big AS (
        SELECT lang, source AS source_out, n FROM g WHERE n >= 7),
      la AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS m
        FROM g WHERE n < 7 GROUP BY lang),
      lb AS (SELECT lang, '*' AS source_out, m AS n FROM la WHERE m >= 7),
      sp AS (
        SELECT '*' AS lang, '*' AS source_out,
          CAST(SUM(m) AS BIGINT) AS n
        FROM la WHERE m < 7 HAVING SUM(m) IS NOT NULL)
      SELECT lang, source_out, n AS n_docs FROM (
        SELECT * FROM big UNION ALL SELECT * FROM lb
        UNION ALL SELECT * FROM sp) u
      ORDER BY lang, source_out""")),

    // ---- l-DIVERSITY audit, the gate k-anonymity alone misses: a
    //      group can be large (k-anonymous) yet have every member
    //      share one sensitive value, so membership still discloses
    //      it. Quasi-identifier (lang, 100-char length band),
    //      sensitive attribute = source; a releasable group needs
    //      BOTH n ≥ k and ≥ l distinct sensitive values, and the
    //      audit also reports each group's mode share (the
    //      homogeneity-attack success rate). Scale: one groupBy of
    //      (QI, source) partials — rows never shuffle — then a
    //      QI-level rollup over the tiny distinct-combination
    //      relation; max_by picks the mode with a deterministic
    //      (count, source) tie-break. ----
    QuerySpec(
      "t56_l_diversity",
      (s, d) => {
        val k = 7
        val l = 3
        val g = Tables.documents(s, d)
          .groupBy(col("lang"),
            (floor(col("n_chars") / 100) * 100).cast("int").as("len_band"),
            col("source"))
          .agg(count(lit(1)).as("n"))
        g.groupBy(col("lang"), col("len_band"))
          .agg(sum(col("n")).as("n_docs"),
            count(lit(1)).cast("int").as("n_sources"),
            max(struct(col("n"), col("source"))).as("mode"))
          .select(col("lang"), col("len_band"), col("n_docs"),
            col("n_sources"),
            col("mode.source").as("mode_source"),
            (col("mode.n").cast("double") / col("n_docs"))
              .as("mode_share"),
            (col("n_docs") >= k && col("n_sources") >= l)
              .as("releasable"))
          .orderBy("lang", "len_band")
      },
      Some("""WITH g AS (
        SELECT lang, CAST((n_chars // 100) * 100 AS INT) AS len_band,
          source, COUNT(*) AS n
        FROM documents GROUP BY lang, len_band, source),
      a AS (
        SELECT lang, len_band,
          CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS INT) AS n_sources
        FROM g GROUP BY lang, len_band),
      m AS (
        SELECT lang, len_band, source AS mode_source, n AS mode_n,
          ROW_NUMBER() OVER (PARTITION BY lang, len_band
            ORDER BY n DESC, source DESC) AS rk
        FROM g)
      SELECT a.lang, a.len_band, n_docs, n_sources, m.mode_source,
        CAST(m.mode_n AS DOUBLE) / n_docs AS mode_share,
        n_docs >= 7 AND n_sources >= 3 AS releasable
      FROM a JOIN m ON m.lang = a.lang AND m.len_band = a.len_band
        AND m.rk = 1
      ORDER BY a.lang, a.len_band""")),

    // ---- directed CONTAINMENT pairs (quote / subset detection):
    //      C(A→B) = |S(A)∩S(B)| / |S(A)| ≥ 0.8 over 3-gram shingle
    //      sets — the asymmetric relation Jaccard misses (a short doc
    //      quoted whole inside a long one scores low J but C = 1).
    //      Candidates come from an EXACT PREFIX FILTER (SSJoin,
    //      Chaudhuri et al. 2006), not LSH: order each doc's shingles
    //      by global document frequency ascending, keep the first
    //      na − ⌈θ·na⌉ + 1 — if C(A→B) ≥ θ then ≤ na − ⌈θ·na⌉ of A's
    //      shingles miss B, so by pigeonhole a prefix shingle is in B.
    //      100% recall by THEOREM (the oracle's exact all-pairs join
    //      hash-matching at every SF re-proves it), precision 1 via
    //      the integer verify 5·ni ≥ 4·na. Scale: bit-identical texts
    //      collapse to reps first (the t08 lesson); df-ascending
    //      prefixes mean the candidate join keys on each doc's RAREST
    //      shingles, so posting lists in the join are short unless a
    //      doc consists entirely of corpus-wide boilerplate — and
    //      those docs are exactly what the t43 boilerplate gate
    //      removes upstream. ----
    QuerySpec(
      "t57_containment_pairs",
      (s, d) => containmentPairs(s, d, num = 4, den = 5)
        .orderBy("da", "db"),
      Some(containmentPairsSql)),

    // ---- COLLOCATION extraction (multiword expressions): top-20
    //      bigrams by pointwise-mutual-information LIFT
    //      n₁₂·N / (n₁·n₂) with a min-support gate (n₁₂ ≥ 5) — the
    //      vocabulary-induction signal for merging "new york"-style
    //      units before tokenizer training (t38's input in a real
    //      pipeline). The lift is the PMI exponent, rank-equivalent
    //      to PMI without the log: one division of exact integer
    //      products, so both engines compute the identical double
    //      and the top-20 cut hash-matches (ties break w1, w2).
    //      Scale: ONE corpus-scale shuffle (the bigram count, t19's
    //      shape); marginals and the total aggregate the already-
    //      reduced vocab²-bounded count table, never the corpus;
    //      top-k is TakeOrdered, never a global sort. ----
    QuerySpec(
      "t58_collocations",
      (s, d) => {
        val n = size(toks)
        val bi = Tables.documents(s, d)
          .select(explode(when(n >= 2,
            zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
              (a, b) => struct(a.as("w1"), b.as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c12 = Scoped.persist(
          bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12")))
        val tot = c12.agg(sum(col("n12")).as("nn"))
        val left = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
        val right = c12.groupBy(col("w2")).agg(sum(col("n12")).as("n2"))
        // marginals are vocab-bounded: broadcast them so the
        // vocab²-bounded c12 relation never shuffles for the lookups
        // (§3.1 — the r15 plan ran both hops as SortMergeJoin: four
        // exchanges + two sorts of c12 for ≤vocab-row dims)
        c12.filter(col("n12") >= 5)
          .join(broadcast(left), "w1").join(broadcast(right), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("n12"),
            ((col("n12") * col("nn")).cast("double") /
              (col("n1") * col("n2")).cast("double")).as("lift"))
          .orderBy(desc("lift"), col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents),
      bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks) x),
      c12 AS (SELECT w1, w2, COUNT(1) AS n12 FROM bi GROUP BY 1, 2),
      tot AS (SELECT SUM(n12) AS nn FROM c12),
      l AS (SELECT w1, SUM(n12) AS n1 FROM c12 GROUP BY 1),
      r AS (SELECT w2, SUM(n12) AS n2 FROM c12 GROUP BY 1)
      SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
        CAST(n12 * nn AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS lift
      FROM c12 JOIN l USING (w1) JOIN r USING (w2), tot
      WHERE n12 >= 5
      ORDER BY lift DESC, w1, w2 LIMIT 20""")),

    // ---- consistent PSEUDONYMIZATION: t16 scrubs PII to bare tags,
    //      which destroys entity STRUCTURE (who-talked-to-whom,
    //      repeated callers) that downstream analysis may legally
    //      use. This replaces each entity with a STABLE pseudonym —
    //      <EMAIL_xxxxxxxx> keyed by md5 of the entity — so the same
    //      address maps to the same token corpus-wide without any
    //      entity dictionary: hash-based pseudonyms make the whole
    //      pass MAP-ONLY at any corpus size (a dense-rank dictionary
    //      would window a 3-partition entity table — the skew trap).
    //      Token-level matching (anchored regexes on whitespace
    //      tokens) sidesteps substring-replacement hazards; the
    //      fixture repeats entities across messages so the oracle
    //      hash-match proves cross-document consistency. ----
    QuerySpec(
      "t59_pseudonymize",
      (s, d) => {
        import s.implicits._
        val rows = Seq(
          (1L, "alice@example.com pinged 555-123-4567 about the rollout"),
          (2L, "bob@corp.io emailed alice@example.com from 10.0.0.1"),
          (3L, "totally clean message"),
          (4L, "call 555-123-4567 or 800-555-1212 for bob@corp.io"),
          (5L, "eve@a.io met alice@example.com near 10.0.0.1"))
          .toDF("msg_id", "raw")
        val email = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
        val phone = "^\\d{3}-\\d{3}-\\d{4}$"
        val ip = "^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$"
        def tag(t: Column): Column =
          when(t.rlike(email), lit("EMAIL"))
            .when(t.rlike(phone), lit("PHONE"))
            .when(t.rlike(ip), lit("IP"))
        def pseudoTok(t: Column): Column =
          when(tag(t).isNotNull,
            concat(lit("<"), tag(t), lit("_"),
              substring(md5(t), 1, 8), lit(">"))).otherwise(t)
        rows.select(col("msg_id"),
          array_join(transform(split(col("raw"), " "), pseudoTok(_)), " ")
            .as("clean"),
          size(filter(split(col("raw"), " "),
            t => tag(t).isNotNull)).as("n_pii"))
          .orderBy("msg_id")
      },
      Some("""WITH m(msg_id, raw) AS (VALUES
        (1, 'alice@example.com pinged 555-123-4567 about the rollout'),
        (2, 'bob@corp.io emailed alice@example.com from 10.0.0.1'),
        (3, 'totally clean message'),
        (4, 'call 555-123-4567 or 800-555-1212 for bob@corp.io'),
        (5, 'eve@a.io met alice@example.com near 10.0.0.1'))
      SELECT CAST(msg_id AS BIGINT) AS msg_id,
        array_to_string(list_transform(str_split(raw, ' '), t ->
          CASE
            WHEN regexp_matches(t,
              '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$')
              THEN '<EMAIL_' || substr(md5(t), 1, 8) || '>'
            WHEN regexp_matches(t, '^\d{3}-\d{3}-\d{4}$')
              THEN '<PHONE_' || substr(md5(t), 1, 8) || '>'
            WHEN regexp_matches(t, '^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$')
              THEN '<IP_' || substr(md5(t), 1, 8) || '>'
            ELSE t END), ' ') AS clean,
        CAST(len(list_filter(str_split(raw, ' '), t ->
          regexp_matches(t,
            '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$')
          OR regexp_matches(t, '^\d{3}-\d{3}-\d{4}$')
          OR regexp_matches(t, '^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$')))
          AS INT) AS n_pii
      FROM m ORDER BY msg_id""")),

    // ---- MinHash CALIBRATION: for every true near-dup pair (t08's
    //      relation), the 72-permutation signature-agreement estimate
    //      of Jaccard next to the exact value — the observability
    //      query that answers "are 72 permutations enough at our
    //      threshold" from the production corpus instead of theory
    //      (E[est] = J; at J = 0.8, σ = √(J(1−J)/72) ≈ 0.047). The
    //      estimator runs on a PORTABLE polyHash signature family
    //      (coefficients embedded in the oracle, the t10 discipline)
    //      so DuckDB derives bit-identical signatures and the whole
    //      relation hash-matches — est, abs_err included. Scale: the
    //      signature is the session-memoized rep-level fused-kernel
    //      pass; agreement is computed once per REP pair and
    //      broadcast onto the doc-pair expansion, so the wide sig
    //      arrays never ride the copy-quadratic pair relation — cost
    //      rides the OUTPUT rows, like t09. ----
    QuerySpec(
      "t60_minhash_calibration",
      (s, d) => {
        val pairs = jaccardPairs(s, d, 0.8)
        // Signature agreement is computed at the REP level and
        // expanded, never per doc pair: a duplicate's signature is
        // bit-identical to its representative's, so n_agree is a
        // function of the (rep_a, rep_b) pair alone — and in the
        // duplicate-heavy regime the doc-pair relation is quadratic
        // in copy count (25M rows at the 100-copy sf10 rehearsal)
        // while the rep-pair relation stays corpus-sized. The wide
        // 72-long sig arrays therefore join only the TINY rep-pair
        // relation; the 25M-row expansion joins ship 8-byte rep ids
        // and a 4-byte count (broadcast at these sizes). Values are
        // bit-identical to the per-doc join this replaced.
        val m = Collapse.texts(s, d).rows.select(col("doc_id"), col("rep"))
        val repSigs = calibRepSigs(s, d)
        val agree = aggregate(
          zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v)
        // persist barrier: prs feeds BOTH the rep-pair distinct and
        // the final expansion join — without it the (copy-quadratic)
        // pair relation and its two mapping joins execute twice
        val prs = Scoped.persist(pairs
          .join(m.toDF("da", "ra"), "da")
          .join(m.toDF("db", "rb"), "db"))
        val repAgree = prs.select(col("ra"), col("rb")).distinct()
          .join(repSigs.toDF("ra", "sa"), "ra")
          .join(repSigs.toDF("rb", "sb"), "rb")
          .select(col("ra"), col("rb"), agree.as("n_agree"))
        // no forced broadcast: repAgree is rep-pair-sized (tiny at
        // bench SFs) but a duplicate-light 100 TB corpus approaches
        // corpus-sized rep pairs, where a mandatory hint turns into a
        // driver OOM instead of a shuffle join — AQE sees the real
        // post-shuffle size and picks broadcast exactly when it fits
        prs.join(repAgree, Seq("ra", "rb"))
          .select(col("da"), col("db"), col("jaccard"), col("n_agree"),
            (col("n_agree") / lit(72.0)).as("est"),
            abs(col("n_agree") / lit(72.0) - col("jaccard"))
              .as("abs_err"))
          .orderBy("da", "db")
      },
      Some {
        val minTerms = (0 until NumPerms).map(j =>
          s"MIN((${calibA(j)}*th+${calibB(j)}) % $HashP) AS m$j")
          .mkString(", ")
        val agreeTerms = (0 until NumPerms).map(j =>
          s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH hs AS (
          SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(str_split(s, ''),
              ch -> CAST(ascii(ch) AS BIGINT))),
            (acc, ch) -> (acc*31+ch) % 1000000007) AS th
          FROM ($shinglesSql) sh),
        sig AS (SELECT doc_id, $minTerms FROM hs GROUP BY doc_id),
        ag AS (
          SELECT ex.da, ex.db, ex.jaccard,
            CAST($agreeTerms AS INT) AS n_agree
          FROM (${jaccardPairsSql(0.8)}) ex
          JOIN sig a ON a.doc_id = ex.da
          JOIN sig b ON b.doc_id = ex.db)
        SELECT da, db, jaccard, n_agree, n_agree / 72.0 AS est,
          ABS(n_agree / 72.0 - jaccard) AS abs_err
        FROM ag ORDER BY da, db"""
      }),

    // ---- cross-source DUPLICATION MATRIX: t08's near-dup pairs
    //      attributed to (source, source) cells with a LIFT against
    //      the independence expectation — the curation diagnostic
    //      that answers "is src3 scraping src1" (off-diagonal spikes)
    //      vs "does src2 re-post itself" (diagonal spikes). lift =
    //      (n_pairs / total_pairs) / (possible_cell / possible_all),
    //      all exact integer products until one final division.
    //      Scale: rides the t08 pair relation (LSH-routed above the
    //      anchor); the matrix is |sources|²-bounded, the doc→source
    //      attribution is two joins against the slim (doc_id, source)
    //      projection. ----
    QuerySpec(
      "t61_source_overlap",
      (s, d) => {
        val pairs = jaccardPairs(s, d, 0.8)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val attributed = pairs
          .join(src.toDF("da", "s1"), "da")
          .join(src.toDF("db", "s2"), "db")
          .select(least(col("s1"), col("s2")).as("src_a"),
            greatest(col("s1"), col("s2")).as("src_b"))
        val cells = attributed.groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"))
        val tot = cells.agg(sum(col("n_pairs")).as("total_pairs"))
        val sizes = src.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val allDocs = sizes.agg(sum(col("n")).as("nd"))
        // possible pairs: n_a·n_b off-diagonal, C(n_a, 2) on it
        val possible = sizes.toDF("src_a", "na")
          .crossJoin(sizes.toDF("src_b", "nb"))
          .filter(col("src_a") <= col("src_b"))
          .select(col("src_a"), col("src_b"),
            when(col("src_a") === col("src_b"),
              // C(n,2) via 1-bit shift: n·(n−1) is even so the shift
              // IS the halving, exact in long at any corpus size —
              // `/ 2` routes through double and drifts past 2^53,
              // where the oracle's integer `//` stays exact.
              shiftright(col("na") * (col("na") - 1), 1))
              .otherwise(col("na") * col("nb")).as("possible"))
        cells.join(possible, Seq("src_a", "src_b"))
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(allDocs))
          .select(col("src_a"), col("src_b"), col("n_pairs"),
            col("possible"),
            ((col("n_pairs") *
              shiftright(col("nd") * (col("nd") - 1), 1))
              .cast("double") /
              (col("total_pairs") * col("possible")).cast("double"))
              .as("lift"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH ex AS (${jaccardPairsSql(0.8)}),
      src AS (SELECT doc_id, source FROM documents),
      att AS (
        SELECT LEAST(a.source, b.source) AS src_a,
          GREATEST(a.source, b.source) AS src_b
        FROM ex JOIN src a ON a.doc_id = ex.da
          JOIN src b ON b.doc_id = ex.db),
      cells AS (
        SELECT src_a, src_b, COUNT(1) AS n_pairs
        FROM att GROUP BY 1, 2),
      tot AS (SELECT SUM(n_pairs) AS total_pairs FROM cells),
      sizes AS (SELECT source, COUNT(1) AS n FROM src GROUP BY 1),
      nd AS (SELECT SUM(n) AS nd FROM sizes),
      poss AS (
        SELECT a.source AS src_a, b.source AS src_b,
          CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
               ELSE a.n * b.n END AS possible
        FROM sizes a JOIN sizes b ON a.source <= b.source)
      SELECT c.src_a, c.src_b, CAST(c.n_pairs AS BIGINT) AS n_pairs,
        CAST(p.possible AS BIGINT) AS possible,
        CAST(c.n_pairs * (nd.nd * (nd.nd - 1) // 2) AS DOUBLE) /
          CAST(t.total_pairs * p.possible AS DOUBLE) AS lift
      FROM cells c JOIN poss p USING (src_a, src_b), tot t, nd nd
      ORDER BY src_a, src_b""")),

    // ---- per-doc DISPOSITION audit: the provenance record a
    //      curation run publishes beside its output — every doc with
    //      the FIRST gate that dropped it (dup → quality → short) or
    //      kept = true, so any doc's absence from the training set is
    //      explainable after the fact (t24 reports the funnel's
    //      counts; this is the row-level trail auditors and data
    //      cards need). Gates reuse the engine's own spellings: the
    //      min-doc-id dup rule, the fused quality kernel at t24's 0.5
    //      cut, a 30-token floor. The dup gate is the dup mapping's rep:
    //      one text-keyed window on a corpus with duplicates, a map-only
    //      scan without. ----
    QuerySpec(
      "t62_disposition_audit",
      (s, d) => {
        Collapse.texts(s, d).rows
          .select(col("doc_id"), col("rep"),
            round(qualityExpr, 6).as("q"), size(toks).as("n_tokens"))
          .withColumn("dropped_by",
            when(col("doc_id") =!= col("rep"), "dup")
              .when(col("q") < 0.5, "quality")
              .when(col("n_tokens") < 30, "short"))
          .select(col("doc_id"), col("dropped_by").isNull.as("kept"),
            col("dropped_by"))
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (
        SELECT doc_id, $qualitySqlRounded AS q,
          len(str_split(text, ' ')) AS n_tokens,
          MIN(doc_id) OVER (PARTITION BY text) AS keep_id
        FROM documents)
      SELECT doc_id,
        (CASE WHEN doc_id <> keep_id THEN 'dup'
              WHEN q < 0.5 THEN 'quality'
              WHEN n_tokens < 30 THEN 'short' END) IS NULL AS kept,
        CASE WHEN doc_id <> keep_id THEN 'dup'
             WHEN q < 0.5 THEN 'quality'
             WHEN n_tokens < 30 THEN 'short' END AS dropped_by
      FROM q ORDER BY doc_id""")),

    // ---- tokenizer-vocabulary coverage: build the top-2000 token
    //      vocabulary from the TRAIN split (t26's leak-proof md5
    //      assignment), then measure the out-of-vocabulary rate on
    //      the held-out splits per (split, lang) — the QA gate run
    //      before freezing a tokenizer: a vocab that covers train but
    //      not validation means the splits are distributionally
    //      skewed or the vocab is too small. Determinism: vocab ties
    //      break (freq desc, token asc); OOV is an integer count; the
    //      rate is one double division. Scale: vocab build is t11's
    //      shuffle (token-keyed, AQE-coalesced); the 2000-row vocab
    //      BROADCASTS to the held-out token stream, so coverage is a
    //      map-side join on the explode — no second shuffle of the
    //      corpus, only of the (split, lang) rollup. ----
    QuerySpec(
      "t45_vocab_coverage",
      (s, d) => {
        val vocabSize = 2000
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        val docs = Tables.documents(s, d).withColumn("split",
          when(h < "c", "train").when(h < "e", "validation")
            .otherwise("test"))
        // top-V via sort+limit → TakeOrderedAndProject (per-partition
        // heaps + driver merge of V rows), never a 1-partition window
        val vocab = docs.filter(col("split") === "train")
          .select(explode(toks).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("t")).limit(vocabSize)
          .select(col("t"), lit(1).as("in_vocab"))
        docs.filter(col("split") =!= "train")
          .select(col("split"), col("lang"), explode(toks).as("t"))
          .join(broadcast(vocab), Seq("t"), "left")
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
              .as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .orderBy("split", "lang")
      },
      Some("""WITH sp AS (
        SELECT doc_id, lang, text,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                 THEN 'validation'
               ELSE 'test' END AS split
        FROM documents),
      vocab AS (
        SELECT t FROM (
          SELECT t, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS rk
          FROM (SELECT t, COUNT(1) AS n FROM (
                  SELECT unnest(str_split(text, ' ')) AS t
                  FROM sp WHERE split = 'train') u
                GROUP BY t) c) r
        WHERE rk <= 2000),
      held AS (
        SELECT split, lang, unnest(str_split(text, ' ')) AS t
        FROM sp WHERE split <> 'train')
      SELECT h.split, h.lang, COUNT(1) AS n_tokens,
        CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(COUNT(1) AS DOUBLE) AS oov_rate
      FROM held h LEFT JOIN vocab v ON h.t = v.t
      GROUP BY h.split, h.lang ORDER BY h.split, h.lang""")),

    // ---- classifier EVALUATION: per-class precision / recall / F1
    //      from t05's confusion matrix — the metrics layer every
    //      model gate in a curation pipeline reads (t29's distilled
    //      quality filter, the language router, any learned gate).
    //      Classes are the union of true and predicted labels over
    //      the classified set; a class never predicted gets NULL
    //      precision, never true gets NULL recall — honest NULLs,
    //      not fabricated zeros. Ratios and the F1 harmonic mean are
    //      fixed double-op sequences both engines execute identically
    //      → hash-exact. Scale: rides the |langs|² confusion relation
    //      — metrics cost nothing at any corpus size. ----
    QuerySpec(
      "t47_langid_metrics",
      (s, d) => {
        val conf = Scoped.persist(langConfusion(s, d))
        val classes = conf.select(col("lang"))
          .union(conf.select(col("pred_lang"))).distinct()
        val byTrue = conf.groupBy(col("lang"))
          .agg(sum(col("n")).as("n_true"))
        val byPred = conf.groupBy(col("pred_lang").as("lang"))
          .agg(sum(col("n")).as("n_pred"))
        val corr = conf.filter(col("lang") === col("pred_lang"))
          .select(col("lang"), col("n").as("n_correct"))
        classes.join(byTrue, Seq("lang"), "left")
          .join(byPred, Seq("lang"), "left")
          .join(corr, Seq("lang"), "left")
          .select(col("lang"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("n_correct"), lit(0L)).as("n_correct"))
          .withColumn("precision", when(col("n_pred") > 0,
            col("n_correct").cast("double") / col("n_pred").cast("double")))
          .withColumn("recall", when(col("n_true") > 0,
            col("n_correct").cast("double") / col("n_true").cast("double")))
          .withColumn("f1", when(
            col("precision").isNotNull && col("recall").isNotNull &&
              (col("precision") + col("recall")) > 0,
            lit(2.0) * col("precision") * col("recall") /
              (col("precision") + col("recall"))))
          .orderBy("lang")
      },
      Some(s"""WITH $langConfusionCtes,
      classes AS (
        SELECT DISTINCT lang FROM (
          SELECT lang FROM conf
          UNION SELECT pred_lang AS lang FROM conf) u),
      bytrue AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
        FROM conf GROUP BY lang),
      bypred AS (
        SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
        FROM conf GROUP BY 1),
      corr AS (
        SELECT lang, n AS n_correct FROM conf WHERE lang = pred_lang),
      base AS (
        SELECT c.lang,
          COALESCE(t.n_true, 0) AS n_true,
          COALESCE(p.n_pred, 0) AS n_pred,
          COALESCE(r.n_correct, 0) AS n_correct
        FROM classes c
        LEFT JOIN bytrue t USING (lang)
        LEFT JOIN bypred p USING (lang)
        LEFT JOIN corr r USING (lang)),
      pr AS (
        SELECT lang, n_true, n_pred, n_correct,
          CASE WHEN n_pred > 0 THEN CAST(n_correct AS DOUBLE)
            / CAST(n_pred AS DOUBLE) END AS precision,
          CASE WHEN n_true > 0 THEN CAST(n_correct AS DOUBLE)
            / CAST(n_true AS DOUBLE) END AS recall
        FROM base)
      SELECT lang, n_true, n_pred, n_correct, precision, recall,
        CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
          AND precision + recall > 0
          THEN 2.0 * precision * recall / (precision + recall) END AS f1
      FROM pr ORDER BY lang""")),

    // ---- quality-aware SURVIVORSHIP: when a near-dup cluster
    //      collapses, keep the BEST document (t04/t13 quality,
    //      doc_id tie-break), not the first-seen — the curation
    //      policy that actually matters at collapse time (the min-id
    //      convention t12/t31 use is a stable default, not a
    //      preference). One summary row: corpus vs component counts,
    //      decimal-exact mean quality under the best-keeps policy vs
    //      the min-id policy, and how many components the two
    //      policies disagree on. Pairs come from the LSH path (the
    //      100 TB pair source); the oracle replays clustering with
    //      the recursive-CTE closure and the same argmax. Scale:
    //      t12's CC machinery + one per-component rank — nothing new
    //      shuffles. ----
    QuerySpec(
      "t49_quality_survivorship",
      (s, d) => {
        // the SHARED t04 heuristic, not a copy — a weight tweak there
        // moves this survivorship comparison with it
        val quality = round(qualityExpr, 6)
        // session-shared with t12: one LSH + CC run serves both
        val labels = dupClusterLabels(s, d, 0.8)
        val m = Tables.documents(s, d).withColumn("q", quality)
          .join(labels.select(col("doc_id"), col("lbl")),
            Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("lbl"), col("doc_id")))
        // two-stage aggregate, NOT a window: the per-component argmax
        // rides max(struct(q, -doc_id)) — partial-aggregable, so the
        // map side combines members before the shuffle and no
        // component ever sorts its full membership (the sf10 regime:
        // 500k member rows in a handful of components made the
        // row_number sort the warm-path residual, 10.2 s → sub-s).
        // struct max = highest q, then highest -doc_id = lowest
        // doc_id: exactly the old ORDER BY q DESC, doc_id rank-1 row.
        // The min-id member's q arrives by the same trick (component
        // IS a member id, so exactly one member matches).
        val comp = m.groupBy(col("component")).agg(
          count(lit(1)).as("members"),
          max(struct(col("q"), (-col("doc_id")).as("negid"))).as("best"),
          max(when(col("doc_id") === col("component"), col("q")))
            .as("minid_q"))
        comp.agg(sum(col("members")).as("n_docs"),
            count(lit(1)).as("n_components"),
            (sum(col("members")) - count(lit(1))).as("n_removed"),
            round(dsum128(col("best.q")) / count(lit(1)), 6)
              .as("avg_best_quality"),
            round(dsum128(col("minid_q")) / count(lit(1)), 6)
              .as("avg_minid_quality"),
            sum(when(-col("best.negid") =!= col("component"), 1L)
              .otherwise(0L)).as("n_policy_differs"))
      },
      Some(s"""WITH RECURSIVE pairs AS (${jaccardPairsSql(0.8)}),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION ALL SELECT db, da FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS lbl
          FROM reach GROUP BY a),
        q AS (SELECT doc_id, $qualitySqlRounded AS q FROM documents),
        m AS (
          SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS component, q.q
          FROM documents d
          LEFT JOIN labels l ON d.doc_id = l.doc_id
          JOIN q ON d.doc_id = q.doc_id),
        r AS (
          SELECT component, doc_id, q, ROW_NUMBER() OVER (
            PARTITION BY component ORDER BY q DESC, doc_id) AS rk
          FROM m)
      SELECT COUNT(1) AS n_docs,
        COUNT(DISTINCT component) AS n_components,
        COUNT(1) - COUNT(DISTINCT component) AS n_removed,
        ROUND(${dsumSql("CASE WHEN rk = 1 THEN q END")}
          / COUNT(DISTINCT component), 6) AS avg_best_quality,
        ROUND(${dsumSql("CASE WHEN doc_id = component THEN q END")}
          / COUNT(DISTINCT component), 6) AS avg_minid_quality,
        CAST(SUM(CASE WHEN rk = 1 AND doc_id <> component
          THEN 1 ELSE 0 END) AS BIGINT) AS n_policy_differs
      FROM r""")),

    // ---- distributional drift, token level: per-source KL divergence
    //      from the corpus unigram distribution over the top-500
    //      corpus vocabulary — the finer-grained complement of t35's
    //      chi-square (which sees language composition, not word
    //      choice): a source whose KL spikes writes DIFFERENTLY, not
    //      just in a different language. Restricting both
    //      distributions to the shared vocabulary keeps every q_i > 0
    //      (no smoothing constant to tune); source tokens outside it
    //      are reported as coverage instead. ln is bitwise-identical
    //      across engines here (t36's BM25 idf established that); the
    //      KL sum folds in token order on both sides → hash-exact.
    //      Scale: two token-keyed aggregates + a broadcast of the
    //      500-row vocab; the fold rides |sources|×500 rows. ----
    QuerySpec(
      "t48_source_kl",
      (s, d) => {
        // r16: ONE corpus-sized pass. Every downstream relation is an
        // exact function of the (source, token) count table — corpus
        // vocab counts are Σ over sources, source totals are Σ over
        // tokens, and the vocab-restricted source counts are a
        // broadcast-join of counts already taken — so the exploded
        // token relation is aggregated once and never persisted; the
        // three r15 passes over a corpus-sized cache become tiny
        // aggregates of the |sources|×|vocab|-bounded table (§2.3).
        val tc = Scoped.persist(Tables.documents(s, d)
          .select(col("source"), explode(toks).as("t"))
          .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c")))
        val vocab = tc.groupBy(col("t"))
          .agg(sum(col("c")).as("nq_i"))
          .orderBy(desc("nq_i"), col("t")).limit(500)
        val nq = vocab.agg(sum(col("nq_i")).as("nq"))
        val srcTot = tc.groupBy(col("source"))
          .agg(sum(col("c")).as("n_tokens"))
        val srcCnt = tc.join(broadcast(vocab), "t")
          .select(col("source"), col("t"), col("c"), col("nq_i"))
        val srcNp = srcCnt.groupBy(col("source"))
          .agg(sum(col("c")).as("np"))
        val terms = srcCnt.join(broadcast(srcNp), "source")
          .crossJoin(broadcast(nq))
          .select(col("source"), col("t"),
            round((col("c").cast("double") / col("np").cast("double")) *
              log((col("c").cast("double") / col("np").cast("double")) /
                (col("nq_i").cast("double") / col("nq").cast("double"))), 9)
              .as("term"))
        val kl = terms.groupBy(col("source"))
          .agg(aggregate(sort_array(collect_list(struct(col("t"),
            col("term")))), lit(0.0),
            (acc, p) => acc + p.getField("term")).as("kl"))
        // LEFT from srcTot: a source with ZERO vocabulary overlap is
        // the most-drifted case of all — it must appear (coverage 0,
        // NULL kl), never silently vanish from the drift report
        srcTot.join(broadcast(srcNp), Seq("source"), "left")
          .join(broadcast(kl), Seq("source"), "left")
          .select(col("source"), col("n_tokens"),
            coalesce(col("np"), lit(0L)).as("n_vocab_tokens"),
            (coalesce(col("np"), lit(0L)).cast("double") /
              col("n_tokens").cast("double")).as("coverage"),
            col("kl"))
          .orderBy("source")
      },
      Some("""WITH tokens AS (
        SELECT source, unnest(str_split(text, ' ')) AS t
        FROM documents),
      vocab AS (
        SELECT t, nq_i FROM (
          SELECT t, COUNT(1) AS nq_i,
            ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC, t) AS rk
          FROM tokens GROUP BY t) v
        WHERE rk <= 500),
      nq AS (SELECT CAST(SUM(nq_i) AS BIGINT) AS nq FROM vocab),
      srctot AS (
        SELECT source, COUNT(1) AS n_tokens FROM tokens GROUP BY source),
      srccnt AS (
        SELECT k.source, k.t, COUNT(1) AS c, MAX(v.nq_i) AS nq_i
        FROM tokens k JOIN vocab v ON k.t = v.t
        GROUP BY k.source, k.t),
      srcnp AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS np
        FROM srccnt GROUP BY source),
      terms AS (
        SELECT c.source, c.t,
          ROUND((CAST(c.c AS DOUBLE) / CAST(p.np AS DOUBLE)) *
            ln((CAST(c.c AS DOUBLE) / CAST(p.np AS DOUBLE)) /
              (CAST(c.nq_i AS DOUBLE) / CAST(q.nq AS DOUBLE))), 9) AS term
        FROM srccnt c JOIN srcnp p USING (source), nq q)
      SELECT t.source, t.n_tokens,
        CAST(COALESCE(p.np, 0) AS BIGINT) AS n_vocab_tokens,
        CAST(COALESCE(p.np, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
          AS coverage,
        k.kl
      FROM srctot t
      LEFT JOIN srcnp p USING (source)
      LEFT JOIN (SELECT source,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list(term ORDER BY t)), (acc, x) -> acc + x) AS kl
            FROM terms GROUP BY source) k USING (source)
      ORDER BY t.source""")),

    // ---- cross-split leakage: held-out documents whose EXACT text
    //      also appears in the train split — the eval-integrity gate
    //      (a test set contaminated by train duplicates inflates
    //      every downstream score). Composes t07's exact-dup identity
    //      with t26's md5 split; the join key is md5(text) — both
    //      engines compute identical digests, and the shuffle moves
    //      32-char keys, never document payloads. Counts are exact
    //      integers; the rate is one double division → hash-exact.
    //      Scale: one distinct over train keys, one key-equi-join
    //      (AQE-coalesced), rollup to |splits|×|sources| rows. ----
    QuerySpec(
      "t46_split_leakage",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        val docs = Tables.documents(s, d)
          .withColumn("split",
            when(h < "c", "train").when(h < "e", "validation")
              .otherwise("test"))
          .select(col("split"), col("source"), md5(col("text")).as("k"))
        val trainKeys = docs.filter(col("split") === "train")
          .select(col("k")).distinct().withColumn("leak", lit(1))
        docs.filter(col("split") =!= "train")
          .join(trainKeys, Seq("k"), "left")
          .groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("leak").isNotNull, 1L).otherwise(0L))
              .as("n_leaked"))
          .withColumn("leak_rate",
            col("n_leaked").cast("double") / col("n_docs").cast("double"))
          .orderBy("split", "source")
      },
      Some("""WITH sp AS (
        SELECT source, md5(text) AS k,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                 THEN 'validation'
               ELSE 'test' END AS split
        FROM documents),
      tk AS (SELECT DISTINCT k FROM sp WHERE split = 'train')
      SELECT s.split, s.source, COUNT(1) AS n_docs,
        CAST(SUM(CASE WHEN t.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_leaked,
        CAST(SUM(CASE WHEN t.k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(1) AS DOUBLE) AS leak_rate
      FROM sp s LEFT JOIN tk t ON s.k = t.k
      WHERE s.split <> 'train'
      GROUP BY s.split, s.source ORDER BY s.split, s.source""")),

    // ---- n-gram NOVELTY: what fraction of a doc's distinct 5-grams
    //      appear FIRST (min doc_id order = corpus arrival order) in
    //      that doc — the marginal-contribution score a curation pass
    //      ranks candidate docs by before admitting them to a corpus
    //      (a doc whose windows all arrived earlier adds nothing even
    //      if no single doc duplicates it — the signal t43's DF
    //      threshold and t07's exact identity both miss). Scale shape:
    //      windows dedup ROW-LOCALLY (the fused NgramHashes kernel)
    //      and are built over DISTINCT texts only (the pair family's
    //      [[Collapse]]): a window's global owner is
    //      the min doc containing it = the min REPRESENTATIVE (reps
    //      are per-text min members, and a non-rep member can never
    //      own a window its own rep also carries), so ownership
    //      resolves on the rep relation and expands back in one
    //      member join — duplication multiplies a map-only expansion,
    //      never the (doc, hash) exchange (sf10's 100×-dup rehearsal:
    //      the uncollapsed window shuffle was 50M rows; collapsed it
    //      is 500k). At 100 TB: one text-keyed shuffle (shared with
    //      t08/t12 via the session scope) + one shuffle of distinct
    //      (rep, 8-byte hash) pairs; arrival order is a stable
    //      column, so the score is incremental-friendly (new docs
    //      can't change old docs' novelty). ----
    QuerySpec(
      "t50_ngram_novelty",
      (s, d) => {
        val nWin = (size(toks) - 4).cast("int")
        val mapping = Collapse.texts(s, d)
        val wins = mapping.reps
          .select(col("rep"),
            explode(graft.functions.TextExprs
              .ngramHashes(split(col("text"), " "), 5, distinct = true))
              .as("wh"))
        val own = min(col("rep")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("wh")))
        val scored = wins
          .withColumn("own", own)
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_distinct_windows"),
            sum(when(col("own") === col("rep"), 1L).otherwise(0L))
              .as("n_novel_l"))
        mapping.attach(scored, greatest(nWin, lit(0)).as("n_windows"),
            (col("doc_id") === col("rep")).as("is_rep"))
          .select(col("doc_id"), col("n_windows"), col("n_distinct_windows"),
            // only the representative can own a window: every window
            // of a non-rep member also lives in its rep's (identical)
            // text, and rep < member in arrival order
            when(col("is_rep"), col("n_novel_l")).otherwise(lit(0L))
              .as("n_novel_windows"))
          .withColumn("novelty_ratio",
            when(col("n_distinct_windows") > 0,
              col("n_novel_windows").cast("double") /
                col("n_distinct_windows")).otherwise(0.0))
          .orderBy("doc_id")
      },
      Some("""WITH wins AS (
        SELECT DISTINCT doc_id,
          array_to_string(toks[(i+1):(i+5)], ' ') AS win
        FROM (
          SELECT doc_id, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(len(str_split(text, ' ')) AS INT) - 5)) AS i
          FROM documents
          WHERE len(str_split(text, ' ')) >= 5) t),
      scored AS (
        SELECT doc_id, COUNT(1) AS n_distinct,
          CAST(SUM(CASE WHEN own = doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel
        FROM (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY win) AS own
              FROM wins) w
        GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(greatest(len(str_split(d.text, ' ')) - 4, 0) AS INT)
          AS n_windows,
        COALESCE(s.n_distinct, 0) AS n_distinct_windows,
        COALESCE(s.n_novel, 0) AS n_novel_windows,
        CASE WHEN COALESCE(s.n_distinct, 0) > 0
          THEN CAST(COALESCE(s.n_novel, 0) AS DOUBLE) / s.n_distinct
          ELSE 0.0 END AS novelty_ratio
      FROM documents d LEFT JOIN scored s USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- RAG chunking: split every document into overlapping
    //      64-token windows with stride 48 (16-token overlap) and
    //      per-chunk provenance (doc_id, chunk ordinal, start token,
    //      actual length) — the retrieval-corpus preparation step
    //      that feeds s03/s16's vector indexes and t27's inverted
    //      index. Chunk count and boundaries are pure integer math
    //      ((n-17) div 48 windows past the first), so the oracle
    //      hash-checks the chunker exactly. Scale shape: MAP-ONLY —
    //      one scan, a per-row sequence+explode fan-out bounded by
    //      n_tokens/48, no shuffle except the presentation sort; at
    //      100 TB the chunker is embarrassingly parallel and the
    //      output is written partition-local. ----
    QuerySpec(
      "t51_rag_chunks",
      (s, d) => {
        val W = 64
        val S = 48
        val n = size(toks)
        val lastChunk = when(n <= W, lit(0))
          .otherwise(expr(s"(size(split(text, ' ')) - ${W - S + 1}) div $S")
            .cast("int"))
        Tables.documents(s, d)
          .select(col("doc_id"), toks.as("tk"),
            explode(sequence(lit(0), lastChunk)).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
            (col("chunk_id") * S).cast("int").as("start_token"),
            size(slice(col("tk"), col("chunk_id") * S + 1, lit(W)))
              .as("chunk_len"),
            array_join(slice(col("tk"), col("chunk_id") * S + 1, lit(W)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
      c AS (
        SELECT doc_id, tk,
          unnest(generate_series(0,
            CASE WHEN len(tk) <= 64 THEN 0
                 ELSE (len(tk) - 17) // 48 END)) AS i
        FROM t)
      SELECT doc_id, CAST(i AS INT) AS chunk_id,
        CAST(i * 48 AS INT) AS start_token,
        CAST(len(tk[(i*48+1):(i*48+64)]) AS INT) AS chunk_len,
        array_to_string(tk[(i*48+1):(i*48+64)], ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_id""")),

    // ---- DSIR-style domain affinity (Xie 2023's hashed-n-gram
    //      importance reweighting, in the integer-exact comparison
    //      form): tokens hash into 256 buckets (md5 prefix — both
    //      engines digest identically); a token VOTES target-leaning
    //      iff its bucket's add-one-smoothed probability under the
    //      target domain (source 'src0') exceeds its probability
    //      under the raw corpus — the cross-multiplied comparison
    //      (ct+1)(Nr+B) > (cr+1)(Nt+B) runs in DECIMAL(38,0), exact
    //      at any corpus size (int64 products overflow near 1e13
    //      tokens), so even the boolean keep gate hash-matches. Per
    //      doc: token count, target-leaning count, affinity ratio,
    //      majority keep flag. Scale shape: the bucket stat tables
    //      are ≤256 rows (map-side-combined aggregates off one token
    //      scan) broadcast back; the only data-sized shuffle is the
    //      per-doc vote rollup keyed by doc_id. The 100 TB form of
    //      DSIR's sampler: score map-side, threshold without a
    //      global sort. ----
    QuerySpec(
      "t52_domain_affinity",
      (s, d) => {
        val B = 256
        // collapsed per text: the hashed tokens are a pure function of
        // the text; the raw bucket count cr sums the group size m and
        // the target count ct sums mr, the group's src0 member count
        val mapping = Collapse.texts(s, d, weights = Seq("m" -> lit(1L),
          "mr" -> when(col("source") === "src0", 1L).otherwise(0L)))
        val tok = mapping.reps
          .select(col("rep"), col("m"), col("mr"), explode(toks).as("t"))
          // bucket by the fused portable polyHash (t29's discipline) —
          // the earlier md5-prefix bucket digested every token twice
          // (two token scans) and the md5 was ~the whole query's cost
          .select(col("rep"), col("m"), col("mr"),
            (graft.functions.TextExprs.polyHash(col("t")) % B)
              .cast("int").as("b"))
        // ONE stats pass over the token scan: per-bucket raw and
        // target counts together (map-side combined to ≤256 rows per
        // task), totals derived from the 256-row table — the scoring
        // join below is then the only other token scan (two scans
        // total; persisting 10⁹ hashed tokens to save the second
        // would cost more memory than the md5 recompute)
        val stats = tok.groupBy(col("b")).agg(sum(col("m")).as("cr"),
          sum(col("mr")).as("ct"))
        val totals = stats.agg(sum(col("cr")).as("nr"),
          sum(col("ct")).as("nt"))
        val dec = org.apache.spark.sql.types.DecimalType(19, 0)
        val lean = (col("ct") + 1L).cast(dec) *
          (col("nr") + B).cast(dec) >
          (col("cr") + 1L).cast(dec) * (col("nt") + B).cast(dec)
        val repAff = tok.join(broadcast(stats), Seq("b"))
          .crossJoin(broadcast(totals))
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(lean, 1L).otherwise(0L)).as("n_target_leaning"))
        mapping.toMembers(repAff)
          .select(col("doc_id"), col("n_tokens"), col("n_target_leaning"))
          .withColumn("affinity",
            col("n_target_leaning").cast("double") /
              col("n_tokens").cast("double"))
          .withColumn("keep", col("n_target_leaning") * 2 >= col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (
        SELECT doc_id, source,
          CAST(${polyHashSql("t")} % 256 AS INT) AS b
        FROM (SELECT doc_id, source, unnest(str_split(text, ' ')) AS t
              FROM documents)),
      raw AS (SELECT b, COUNT(1) AS cr FROM tok GROUP BY b),
      tgt AS (SELECT b, COUNT(1) AS ct FROM tok
              WHERE source = 'src0' GROUP BY b),
      tot AS (SELECT COUNT(1) AS nr,
          CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
            AS nt
        FROM tok)
      SELECT k.doc_id, COUNT(1) AS n_tokens,
        CAST(SUM(CASE WHEN
            CAST(COALESCE(g.ct, 0) + 1 AS DECIMAL(19,0)) *
              CAST(o.nr + 256 AS DECIMAL(19,0)) >
            CAST(r.cr + 1 AS DECIMAL(19,0)) *
              CAST(o.nt + 256 AS DECIMAL(19,0))
          THEN 1 ELSE 0 END) AS BIGINT) AS n_target_leaning,
        CAST(SUM(CASE WHEN
            CAST(COALESCE(g.ct, 0) + 1 AS DECIMAL(19,0)) *
              CAST(o.nr + 256 AS DECIMAL(19,0)) >
            CAST(r.cr + 1 AS DECIMAL(19,0)) *
              CAST(o.nt + 256 AS DECIMAL(19,0))
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
          AS affinity,
        (CAST(SUM(CASE WHEN
            CAST(COALESCE(g.ct, 0) + 1 AS DECIMAL(19,0)) *
              CAST(o.nr + 256 AS DECIMAL(19,0)) >
            CAST(r.cr + 1 AS DECIMAL(19,0)) *
              CAST(o.nt + 256 AS DECIMAL(19,0))
          THEN 1 ELSE 0 END) AS BIGINT) * 2 >= COUNT(1)) AS keep
      FROM tok k
      LEFT JOIN tgt g USING (b)
      JOIN raw r USING (b), tot o
      GROUP BY k.doc_id ORDER BY k.doc_id""")),

    // ---- CCNet-style perplexity bucketing (Wenzek 2020): train an
    //      add-one-smoothed bigram LM on the REFERENCE domain only
    //      (source 'src0' — CCNet's Wikipedia), score every document
    //      by its mean smoothed bigram probability (the
    //      transcendental-free stand-in for log-perplexity: same
    //      curation role, but every probability is one correctly-
    //      rounded division of integer counts and the per-doc mean is
    //      the order-independent decimal `davg`, so the score — and
    //      therefore the BUCKET — hash-matches the oracle), then cut
    //      each language into head/middle/tail at tertile thresholds
    //      derived from a deterministic md5 hash-sample (25% of
    //      docs). Unseen mass is exact: pair unseen → n12=0, head
    //      word unseen → n1=0, both smoothed by the same (k+1)/(n+V).
    //      Scale shape: the model is one (w1,w2) partial-agg shuffle
    //      bounded by reference vocabulary², broadcast back over one
    //      bigram scan; the thresholds come from a SAMPLE (the 100 TB
    //      knob — CCNet itself fixes thresholds from a held-out
    //      slice), ranked per language with one shuffle of sample
    //      rows only; the ≤|langs|-row threshold table broadcasts
    //      onto the scored docs map-side. No global sort anywhere:
    //      bucketing is a comparison against two scalars per
    //      language. ----
    QuerySpec(
      "t53_perplexity_buckets",
      (s, d) => {
        val n = size(toks)
        // collapsed per text: the bigram sequence is a pure function
        // of the text; the reference slice is member-defined (source =
        // 'src0'), so the reference model counts sum mr, the group's
        // src0 member count
        val mapping = Collapse.texts(s, d, Seq("lang"),
          Seq("mr" -> when(col("source") === "src0", 1L).otherwise(0L)))
        val biRows = mapping.reps
          .select(col("rep"), col("mr"),
            explode(when(n >= 2,
              zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
                (a, b) => struct(a.as("w1"), b.as("w2"))))
              .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
              .as("b"))
          .select(col("rep"), col("mr"),
            col("b.w1").as("w1"), col("b.w2").as("w2"))
        val bi = Scoped.persist(biRows)
        val ref = bi.filter(col("mr") > 0)
        // r16, the t19 shape: ONE corpus-sized aggregation — c1 and
        // the vocabulary derive exactly from the vocab²-bounded pair
        // table (n1 = Σ_w2 n12; distinct w2 of ref = distinct w2 of
        // c12), dropping two full passes over the cached bigrams.
        val c12 = Scoped.persist(ref.groupBy(col("w1"), col("w2"))
          .agg(sum(col("mr")).as("n12")))
        val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
        val vocab = c12.select(col("w2")).distinct()
          .agg(count(lit(1)).as("v"))
        // the t19 discipline: quantize p to its davg tick count ONCE
        // PER MODEL ROW, never per bigram instance. Smoothing has
        // three cases, each a bounded model: pair seen → (n12+1)/
        // (n1+v) on the vocab²-bounded pair table; pair unseen but
        // head seen → 1/(n1+v) on the vocab-bounded head table; head
        // unseen → the single scalar 1/v. Per instance the work is
        // then one coalesce + one codegen'd long add (Σ ticks per doc
        // ≤ n_bigrams × 10¹⁰ — inside the long bound at any doc
        // length). Values are bit-identical to the per-instance
        // division: each case's expression is the same IEEE tree the
        // coalesced form evaluated.
        val tks = graft.functions.TickExprs
        val pairModel = c12.join(c1, "w1").crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"),
            tks.decimalTicks((col("n12") + 1).cast("double") /
              (col("n1") + col("v")).cast("double")).as("tp"))
        val headModel = c1.crossJoin(broadcast(vocab))
          .select(col("w1"),
            tks.decimalTicks(lit(1.0) /
              (col("n1") + col("v")).cast("double")).as("th"))
        val unseen = broadcast(vocab.select(
          tks.decimalTicks(lit(1.0) / col("v").cast("double")).as("tu")))
        // both model tables are vocab-bounded: broadcast them so the
        // corpus-sized bigram relation never shuffles for the lookups
        // (§3.1; the r15 plan ran the headModel hop as a
        // SortMergeJoin — two corpus exchanges for a ≤vocab-row dim)
        val perRep = bi
          .join(broadcast(pairModel), Seq("w1", "w2"), "left")
          .join(broadcast(headModel), Seq("w1"), "left")
          .crossJoin(unseen)
          .select(col("rep"),
            coalesce(col("tp"), col("th"), col("tu")).as("t"))
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_bigrams"),
            (tks.ticksToDouble(sum(col("t"))) / count(lit(1)))
              .as("score"))
        val scored = Scoped.persist(mapping.attach(perRep, col("lang")))
        val wr = Window.partitionBy(col("lang"))
          .orderBy(col("score"), col("doc_id"))
        val ranked = scored
          .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
          .withColumn("rk", row_number().over(wr))
          .withColumn("nl", count(lit(1)).over(Window.partitionBy(col("lang"))))
        val thr = ranked
          .filter(col("rk") === expr("(nl + 2) div 3") ||
            col("rk") === expr("(2 * nl + 2) div 3"))
          .groupBy(col("lang"))
          .agg(
            min(when(col("rk") === expr("(nl + 2) div 3"), col("score")))
              .as("t_lo"),
            min(when(col("rk") === expr("(2 * nl + 2) div 3"), col("score")))
              .as("t_hi"))
        scored.join(broadcast(thr), Seq("lang"), "left")
          .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score"),
            when(col("t_lo").isNull, "middle")
              .when(col("score") <= col("t_lo"), "tail")
              .when(col("score") <= col("t_hi"), "middle")
              .otherwise("head").as("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
        SELECT doc_id, source, str_split(text, ' ') AS t FROM documents),
      bi AS (
        SELECT doc_id, source,
          unnest(t[1:len(t) - 1]) AS w1,
          unnest(t[2:len(t)]) AS w2
        FROM toks WHERE len(t) >= 2),
      ref AS (SELECT w1, w2 FROM bi WHERE source = 'src0'),
      c12 AS (SELECT w1, w2, COUNT(1) AS n12 FROM ref GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(1) AS n1 FROM ref GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT w2) AS v FROM ref),
      perdoc AS (
        SELECT doc_id, COUNT(1) AS n_bigrams, ${davgSql("p")} AS score
        FROM (
          SELECT b.doc_id,
            CAST(COALESCE(c12.n12, 0) + 1 AS DOUBLE) /
              CAST(COALESCE(c1.n1, 0) + v.v AS DOUBLE) AS p
          FROM bi b
          LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
          LEFT JOIN c1 ON b.w1 = c1.w1
          CROSS JOIN v) sc
        GROUP BY doc_id),
      scored AS (
        SELECT d.doc_id, d.lang, COALESCE(p.n_bigrams, 0) AS n_bigrams,
          COALESCE(p.score, 0.0) AS score
        FROM documents d LEFT JOIN perdoc p USING (doc_id)),
      ranked AS (
        SELECT lang, doc_id, score,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score, doc_id)
            AS rk,
          COUNT(1) OVER (PARTITION BY lang) AS nl
        FROM scored
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'),
      thr AS (
        SELECT lang,
          MIN(CASE WHEN rk = (nl + 2) // 3 THEN score END) AS t_lo,
          MIN(CASE WHEN rk = (2 * nl + 2) // 3 THEN score END) AS t_hi
        FROM ranked
        WHERE rk = (nl + 2) // 3 OR rk = (2 * nl + 2) // 3
        GROUP BY lang)
      SELECT sc.doc_id, sc.lang, sc.n_bigrams, sc.score,
        CASE WHEN t.t_lo IS NULL THEN 'middle'
             WHEN sc.score <= t.t_lo THEN 'tail'
             WHEN sc.score <= t.t_hi THEN 'middle'
             ELSE 'head' END AS bucket
      FROM scored sc LEFT JOIN thr t USING (lang)
      ORDER BY sc.doc_id""")),

    // ---- benchmark decontamination (the GPT-3 appendix-C /
    //      PaLM-style 13-gram overlap filter): the held-out eval
    //      slice (t46's md5 'test' split — substr(md5(doc_id),1,1) >=
    //      'e') defines a benchmark n-gram set; every TRAINING doc is
    //      scored by how many of its distinct 13-gram windows appear
    //      anywhere in the benchmark, and flagged contaminated on any
    //      hit. Windows dedup ROW-LOCALLY in the fused [[TextExprs
    //      .ngramHashes]] kernel (8-byte hashes, never window
    //      strings, same contract as t43/t50). Scale shape: the
    //      benchmark window set is BOUNDED BY THE BENCHMARK, not the
    //      corpus — real eval suites are megabytes against a 100 TB
    //      corpus — so it broadcasts and the whole decontamination
    //      pass is map-side: one training-corpus scan, a broadcast
    //      hash probe per window, one doc_id rollup. No corpus-sized
    //      shuffle at any scale. Collapsed per text: a doc's
    //      distinct-window set is a pure function of its text, so the
    //      benchmark window set over eval docs equals the window set
    //      over reps owning ≥1 eval member. ----
    QuerySpec(
      "t54_decontamination",
      (s, d) => {
        val isEval =
          substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
        val mapping = Collapse.texts(s, d)
        val repWins = Scoped.persist(
          mapping.reps
            .select(col("rep"),
              explode(graft.functions.TextExprs
                .ngramHashes(toks, 13, distinct = true)).as("wh")))
        // distinct windows of the eval slice = distinct windows of the
        // reps that own >=1 eval member (identical texts, identical
        // window sets) — bounded by the benchmark, broadcast as before
        val evalReps = mapping.rows.filter(isEval)
          .select(col("rep")).distinct()
        val benchSet = repWins.join(evalReps, "rep")
          .select(col("wh")).distinct().withColumn("hit", lit(1))
        val repStats = repWins
          .join(broadcast(benchSet), Seq("wh"), "left")
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_distinct_windows"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L))
              .as("n_hit_windows"))
        mapping.attach(repStats,
            greatest((size(toks) - 12).cast("int"), lit(0)).as("n_windows"))
          .filter(!isEval)
          .withColumn("contaminated", col("n_hit_windows") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
        SELECT doc_id, text,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_eval
        FROM documents),
      wins AS (
        SELECT DISTINCT doc_id, is_eval,
          array_to_string(toks[(i+1):(i+13)], ' ') AS win
        FROM (
          SELECT doc_id, is_eval, str_split(text, ' ') AS toks,
            unnest(generate_series(0,
              CAST(len(str_split(text, ' ')) AS INT) - 13)) AS i
          FROM d
          WHERE len(str_split(text, ' ')) >= 13) t),
      ev AS (SELECT DISTINCT win FROM wins WHERE is_eval),
      scored AS (
        SELECT w.doc_id, COUNT(1) AS n_distinct,
          CAST(SUM(CASE WHEN e.win IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit
        FROM wins w LEFT JOIN ev e USING (win)
        WHERE NOT w.is_eval
        GROUP BY w.doc_id)
      SELECT d.doc_id,
        CAST(greatest(len(str_split(d.text, ' ')) - 12, 0) AS INT)
          AS n_windows,
        COALESCE(s.n_distinct, 0) AS n_distinct_windows,
        COALESCE(s.n_hit, 0) AS n_hit_windows,
        COALESCE(s.n_hit, 0) > 0 AS contaminated
      FROM d LEFT JOIN scored s USING (doc_id)
      WHERE NOT d.is_eval
      ORDER BY d.doc_id""")),

    // ---- temperature-flattened mixture sampling (the mT5/UNIMAX
    //      multilingual recipe): per-source sampling weights w_s ∝
    //      n_s^τ at τ=0.5 — sqrt is the one power IEEE-754 requires
    //      correctly rounded, so the whole weight computation is
    //      engine-exact without a transcendental in sight (pow(x,
    //      0.7) has no such guarantee; the sqrt temperature is the
    //      hash-matchable point on the CCNet/mT5 τ grid). Target
    //      volume = half the corpus; per-source keep probability
    //      p_s = min(1, T·w_s/n_s); each doc draws its uniform
    //      DETERMINISTICALLY from 6 md5 hex digits / 16^6 (an exact
    //      power-of-two division — the draw is reproducible across
    //      engines, reruns, and cluster sizes, which is what makes
    //      the sample auditable). Σ√n runs through the decimal dsum
    //      so the normalizer is order-independent. Scale shape: ONE
    //      count aggregate to a |sources|-row table, scalar math on
    //      ≤20 rows, broadcast back over a map-only scan — the
    //      100 TB sampler never shuffles the corpus at all. ----
    QuerySpec(
      "t55_temperature_sampling",
      (s, d) => {
        val stats = Tables.documents(s, d)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val tot = stats.agg(
          dsum128(sqrt(col("n"))).as("s_sqrt"),
          sum(col("n")).as("total"))
        val p = stats.crossJoin(broadcast(tot))
          .withColumn("t2", expr("total div 2"))
          .select(col("source"),
            least(lit(1.0),
              (col("t2").cast("double") * (sqrt(col("n")) / col("s_sqrt"))) /
                col("n").cast("double")).as("p_keep"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("u",
            conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
              .cast("double") / 16777216.0)
          .join(broadcast(p), Seq("source"))
          .select(col("doc_id"), col("source"), col("u"), col("p_keep"),
            (col("u") < col("p_keep")).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH stats AS (
        SELECT source, COUNT(1) AS n FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(CAST(SUM(CAST(sqrt(n) AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) AS s_sqrt,
          SUM(n) AS total
        FROM stats),
      p AS (
        SELECT source,
          least(1.0, (CAST(total // 2 AS DOUBLE) * (sqrt(n) / s_sqrt))
            / CAST(n AS DOUBLE)) AS p_keep
        FROM stats, tot)
      SELECT doc_id, source, u, p_keep, (u < p_keep) AS keep
      FROM (
        SELECT d.doc_id, d.source,
          CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
            AS INT) AS DOUBLE) / 16777216.0 AS u,
          p.p_keep
        FROM documents d JOIN p USING (source)) t
      ORDER BY doc_id""")),

    // ---- DSIR data selection (Xie et al. 2023, "Data Selection via
    //      Importance Resampling"): score every candidate document by
    //      how much its hashed-bigram distribution looks like a TARGET
    //      domain (here source `src0`, standing in for the curated
    //      target corpus) versus the raw pool, then Gumbel-top-k
    //      resample ∝ exp(weight). Features are word bigrams hashed
    //      into B=1024 buckets via the portable 31-base polyHash (the
    //      t06 recipe, so the oracle replays the exact bucket ids);
    //      both bucket distributions get Laplace +1 smoothing, the
    //      per-bucket log-ratio λ_b = ln p_t(b) − ln p_r(b) is rounded
    //      once (ln is bitwise-identical across engines — t36/t48
    //      established that), and the per-doc weight Σ c_b·λ_b runs
    //      through the decimal dsum so it is order-independent. The
    //      resampling draw is the DSIR Gumbel trick made auditable:
    //      u from 12 md5 hex digits (+0.5, an exact power-of-two
    //      division, so u ∈ (0,1) strictly), g = −ln(−ln u) rounded
    //      once, selection key = w + g — a deterministic sample from
    //      the softmax over weights, reproducible across engines,
    //      reruns, and cluster sizes. Output is the selected top-200.
    //      Scale shape: ONE corpus explode feeds two ≤B-row aggregates
    //      (target/raw bucket histograms) and the per-doc bucket
    //      counts (partial-agg, keyed by doc); λ is a broadcast
    //      1024-row table; selection is TakeOrdered k — the corpus is
    //      never globally sorted and no shuffle key is wider than
    //      (doc_id, bucket). The smoothed ratio multiplies two int64s
    //      before the double cast — exact while c·(n+B) < 2^53;
    //      at true 100 TB token counts swap the product form for
    //      ln(c_t+1) − ln(n_t+B) − ln(c_r+1) + ln(n_r+B), which
    //      trades one rounding for unbounded range. ----
    QuerySpec(
      "t63_dsir_weights",
      (s, d) => {
        val tgt = "src0"
        val rows = dsirBucketRows(s, d)
        val lam = dsirLambda(s, rows, tgt)
        val w = rows.filter(col("source") =!= tgt)
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
          .join(broadcast(lam), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(dsum128(col("c").cast("double") * col("lam")).as("w"),
            sum(col("c")).as("n_bigrams"))
        val v = conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":dsir"))), 1, 12), 16, 10).cast("double")
        Tables.documents(s, d).filter(col("source") =!= tgt)
          .select(col("doc_id"), col("source"))
          .join(w, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("w"), lit(0.0)).as("w"),
            round(-log(-log((v + 0.5) / 281474976710656.0)), 9).as("g"))
          .withColumn("key", col("w") + col("g"))
          .orderBy(desc("key"), col("doc_id")).limit(200)
          .select(col("doc_id"), col("source"), col("n_bigrams"),
            round(col("w"), 6).as("dsir_weight"),
            round(col("key"), 6).as("sample_key"))
      },
      Some(s"""WITH bgr AS (
        SELECT doc_id, source,
          unnest(list_transform(
            generate_series(1, greatest(len(str_split(text, ' ')) - 1, 0)),
            i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]))
            AS bg
        FROM documents),
      hb AS (
        SELECT doc_id, source,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(str_split(bg, ''),
              c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) % 1024 AS b
        FROM bgr),
      ct AS (SELECT b, COUNT(1) AS ct FROM hb WHERE source = 'src0'
             GROUP BY b),
      cr AS (SELECT b, COUNT(1) AS cr FROM hb WHERE source <> 'src0'
             GROUP BY b),
      nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
      nr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cr),
      lam AS (
        SELECT sp.b,
          ROUND(ln(CAST((COALESCE(ct.ct, 0) + 1) * (nr.nr + 1024) AS DOUBLE)
            / CAST((COALESCE(cr.cr, 0) + 1) * (nt.nt + 1024) AS DOUBLE)), 9)
            AS lam
        FROM (SELECT unnest(generate_series(0, 1023)) AS b) sp
        LEFT JOIN ct ON sp.b = ct.b
        LEFT JOIN cr ON sp.b = cr.b, nt, nr),
      dc AS (
        SELECT doc_id, b, COUNT(1) AS c FROM hb WHERE source <> 'src0'
        GROUP BY 1, 2),
      w AS (
        SELECT doc_id, ${dsumSql("CAST(c AS DOUBLE) * lam")} AS w,
          CAST(SUM(c) AS BIGINT) AS n_bigrams
        FROM dc JOIN lam USING (b) GROUP BY doc_id),
      kd AS (
        SELECT d.doc_id, d.source,
          COALESCE(w.n_bigrams, 0) AS n_bigrams,
          COALESCE(w.w, 0.0) AS w,
          ROUND(-ln(-ln((CAST(CAST(('0x' ||
            substr(md5(CAST(d.doc_id AS VARCHAR) || ':dsir'), 1, 12))
            AS BIGINT) AS DOUBLE) + 0.5) / 281474976710656.0)), 9) AS g
        FROM documents d LEFT JOIN w USING (doc_id)
        WHERE d.source <> 'src0')
      SELECT doc_id, source, n_bigrams,
        ROUND(w, 6) AS dsir_weight,
        ROUND(w + g, 6) AS sample_key
      FROM kd ORDER BY w + g DESC, doc_id LIMIT 200""")),

    // ---- BLOOM-PREFILTERED decontamination — t14's registered scale
    //      twin, the composition t14's own scaladoc names ("at extreme
    //      benchmark sizes swap the broadcast set for a bloom filter
    //      and keep this exact join as the verify pass"). Build: the
    //      benchmark side's distinct shingle hashes set h=4 bits each
    //      in a 2^18-bit blocked bitmap (position j = xxhash64 seeded
    //      by j — wrap-safe under ANSI mode; bits OR-aggregated
    //      map-side by 64-bit word, ≤4096 rows collected — a bitmap
    //      of FIXED size, bounded
    //      by construction, then a broadcast literal). Probe: corpus
    //      shingles test all 4 bits BEFORE any join, so at 100 TB the
    //      corpus side sheds ~all non-matching rows in the scan stage
    //      and only bloom-positive rows reach the (still exact,
    //      broadcast) verify join. A Bloom filter has NO false
    //      negatives, so the output is IDENTICAL to t14's — same
    //      oracle SQL, hash-matched; false positives only cost verify
    //      work, never correctness. Bitmap sizing rides the BENCHMARK
    //      set (small by nature): m ≈ 8·|bench shingles| bits keeps
    //      FP ≲ 3% at the largest tested SF. ----
    QuerySpec(
      "t64_bloom_decontam",
      (s, d) => {
        val mBits = 1 << 18
        val words = mBits / 64
        val h = 4 // hash functions: xxhash64 seeded by the index j
        def pos(sc: Column, j: Int): Column =
          pmod(xxhash64(lit(j), sc), lit(mBits.toLong)).cast("int")
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingles).as("s"))
        // read twice (bloom build + verify join) — scope-tracked
        val benchSh = Scoped.persist(
          sh.filter(col("doc_id") % 17 === 0).select(col("s")).distinct())
        val bitmapRows = benchSh
          .select(explode(array((0 until h).map(pos(col("s"), _)): _*))
            .as("p"))
          .selectExpr("CAST(p div 64 AS INT) AS w",
            "shiftleft(1L, CAST(p % 64 AS INT)) AS m")
          .groupBy(col("w")).agg(bit_or(col("m")).as("bm"))
          .collect() // ≤ `words` rows: fixed-size bitmap, bounded
        val arr = new Array[Long](words)
        bitmapRows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
        val bloom = typedLit(arr.toSeq)
        var probes = sh.filter(col("doc_id") % 17 =!= 0)
        (0 until h).foreach { j =>
          probes = probes.withColumn(s"p$j", pos(col("s"), j))
        }
        probes.withColumn("bloom", bloom)
          .filter((0 until h).map(j => expr(
            s"(element_at(bloom, CAST(p$j div 64 AS INT) + 1) & " +
              s"shiftleft(1L, CAST(p$j % 64 AS INT))) != 0"))
            .reduce(_ && _))
          .join(broadcast(benchSh), "s")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      // the bloom is a pure prefilter (no false negatives), so the
      // oracle is t14's exact-join SQL verbatim
      Some(s"""WITH sh AS ($shinglesSql)
        SELECT a.doc_id, COUNT(1) AS n_shared
        FROM sh a
        JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0) b
          ON a.s = b.s
        WHERE a.doc_id % 17 <> 0
        GROUP BY a.doc_id ORDER BY a.doc_id""")),

    // ---- EDIT-DISTANCE-VERIFIED near-dup pairs: candidates = pairs
    //      sharing any word 8-gram (a shingle equi-join on 8-byte
    //      hashes — random word soup shares no 8-gram, so only true
    //      near-dup structure survives candidate generation), verify
    //      = character Levenshtein ≤ 64 with Spark's THRESHOLDED
    //      kernel (banded O(len·64) instead of O(len²); -1 above the
    //      band, filtered). The |len_a − len_b| ≤ 64 prefilter is
    //      lossless (edit distance ≥ length difference) and runs
    //      before any text comparison. Pair identities are DISTINCT'd
    //      BEFORE payloads join back in, so full texts ride only
    //      candidate rows — the same fetch-payloads-late shape as
    //      s34/s23. At 100 TB the candidate stage is the same
    //      LSH-band/prefix discipline as t09/t57; the verifier is
    //      unchanged. Complements Jaccard (t08): edit distance sees
    //      ORDER (a word-shuffled doc is Jaccard-identical but
    //      edit-distant). ----
    QuerySpec(
      "t65_editdist_pairs",
      // Collapsed per text (the first full-sf1 bench caught the
      // uncollapsed form at 357 s — 300× the sf0.1 cost — because
      // bit-identical copies share every 8-gram): identical texts have
      // identical lengths and Levenshtein distances, so intra-group
      // pairs sit at exactly dist 0 / sim 1.0, gated on the rep having
      // ≥1 8-gram (a <8-token text is candidate to nothing, itself
      // included).
      (s, d) => {
        val mapping = Collapse.texts(s, d)
        val reps = mapping.reps
        val sh8 = reps.select(col("doc_id"),
          explode(graft.functions.TextExprs
            .shingleHashes(col("text"), 8)).as("g"))
        val cand = sh8.toDF("ra", "g")
          .join(sh8.toDF("rb", "g2"),
            col("g") === col("g2") && col("ra") < col("rb"))
          .select(col("ra"), col("rb")).distinct()
        val ta = reps.select(col("doc_id").as("ra"), col("text").as("ta"),
          length(col("text")).cast("long").as("la"))
        val tb = reps.select(col("doc_id").as("rb"), col("text").as("tb"),
          length(col("text")).cast("long").as("lb"))
        // PERSIST BARRIER, not just a projection: without it Catalyst
        // collapses this projection into the member-expansion joins
        // below and the banded Levenshtein re-evaluates once per
        // EXPANDED member pair (100× per rep pair in the 10-copy sf1
        // regime — profiled at 33 s of a 35 s query). The barrier
        // pins one distance per DISTINCT text pair; the expansion
        // then reads 256 cached rows.
        val repPairs = Scoped.persist(
          cand.join(ta, "ra").join(tb, "rb")
            .filter(abs(col("la") - col("lb")) <= 64)
            .withColumn("dist",
              levenshtein(col("ta"), col("tb"), 64).cast("long"))
            .filter(col("dist") >= 0)
            .select(col("ra"), col("rb"), col("la").as("len_a"),
              col("lb").as("len_b"), col("dist")))
        val intra = sh8.select(col("doc_id").as("rep")).distinct()
          .join(reps.select(col("doc_id").as("rep"),
            length(col("text")).cast("long").as("l")), "rep")
          .select(col("rep"), col("l").as("len_a"), col("l").as("len_b"),
            lit(0L).as("dist"))
        mapping.expandPairs(repPairs, intra, swap = Seq("len_a" -> "len_b"))
          .select(col("da"), col("db"), col("len_a"), col("len_b"),
            col("dist"),
            round(lit(1.0) - col("dist").cast("double") /
              greatest(col("len_a"), col("len_b")).cast("double"), 6)
              .as("edit_sim"))
          .orderBy("da", "db")
      },
      Some("""WITH sh AS (
        SELECT DISTINCT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(str_split(text, ' ')) - 7, 0)),
          i -> array_to_string(
            list_slice(str_split(text, ' '), i, i + 7), ' '))) AS g
        FROM documents),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM sh a JOIN sh b ON b.g = a.g AND a.doc_id < b.doc_id),
      p AS (
        SELECT c.da, c.db,
          CAST(len(x.text) AS BIGINT) AS len_a,
          CAST(len(y.text) AS BIGINT) AS len_b,
          CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist
        FROM cand c
        JOIN documents x ON x.doc_id = c.da
        JOIN documents y ON y.doc_id = c.db
        WHERE abs(len(x.text) - len(y.text)) <= 64)
      SELECT da, db, len_a, len_b, dist,
        ROUND(CAST(1 AS DOUBLE) - CAST(dist AS DOUBLE)
          / greatest(len_a, len_b), 6) AS edit_sim
      FROM p WHERE dist <= 64 ORDER BY da, db""")),

    // ---- Zipf-law fit: per-source OLS of ln(freq) on ln(rank) over
    //      the top-256 term ranks — the corpus-health check curation
    //      stacks run on every source (natural text sits near slope
    //      −1; template/boilerplate-heavy or synthetic sources bend
    //      the curve and show up as |slope| and R² outliers; Zipf
    //      1949, Piantadosi 2014 review). Parity discipline: ln() per
    //      row is IEEE-deterministic, every SUM rides [[dsum]] (exact
    //      decimal, order-independent — the t37 recipe), and all
    //      post-aggregation arithmetic is scalar double ops on
    //      identical operands in both engines, written with the SAME
    //      parenthesization. Scale: the OLS runs on the (source ×
    //      top-256) relation — 256 rows per source regardless of
    //      corpus size; the rank window partitions by source over the
    //      ALREADY-REDUCED (source, term, freq) count table (vocab-
    //      bounded, t11's shape), never the corpus. ----
    QuerySpec(
      "t66_zipf_fit",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("source"), explode(toks).as("t"))
          .groupBy(col("source"), col("t"))
          .agg(count(lit(1)).as("f"))
        val ranked = tf
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(desc("f"), col("t"))))
          .filter(col("rk") <= 256)
        val pts = ranked.select(col("source"),
          log(col("rk").cast("double")).as("x"),
          log(col("f").cast("double")).as("y"))
        val sums = pts.groupBy(col("source")).agg(
          count(lit(1)).as("n_ranks"),
          dsum128(col("x")).as("sx"), dsum128(col("y")).as("sy"),
          dsum128(col("x") * col("y")).as("sxy"),
          dsum128(col("x") * col("x")).as("sxx"),
          dsum128(col("y") * col("y")).as("syy"))
          .filter(col("n_ranks") >= 3)
        val n = col("n_ranks").cast("double")
        val covn = n * col("sxy") - col("sx") * col("sy")
        val varxn = n * col("sxx") - col("sx") * col("sx")
        val varyn = n * col("syy") - col("sy") * col("sy")
        val slope = covn / varxn
        sums.select(col("source"), col("n_ranks"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
          when(varyn =!= 0.0,
            round(covn * covn / (varxn * varyn), 6)).as("r2"))
          .orderBy("source")
      },
      Some(s"""WITH tf AS (
        SELECT source, t, COUNT(1) AS f
        FROM (SELECT source, unnest(str_split(text, ' ')) AS t
              FROM documents) u
        GROUP BY 1, 2),
      rk AS (
        SELECT source, f,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY f DESC, t)
            AS rk
        FROM tf),
      pts AS (
        SELECT source, ln(CAST(rk AS DOUBLE)) AS x,
          ln(CAST(f AS DOUBLE)) AS y
        FROM rk WHERE rk <= 256),
      sums AS (
        SELECT source, CAST(COUNT(1) AS BIGINT) AS n_ranks,
          ${dsumSql("x")} AS sx, ${dsumSql("y")} AS sy,
          ${dsumSql("x * y")} AS sxy, ${dsumSql("x * x")} AS sxx,
          ${dsumSql("y * y")} AS syy
        FROM pts GROUP BY 1 HAVING COUNT(1) >= 3),
      fit AS (
        SELECT source, n_ranks, sx, sy,
          n_ranks * sxy - sx * sy AS covn,
          n_ranks * sxx - sx * sx AS varxn,
          n_ranks * syy - sy * sy AS varyn
        FROM sums)
      SELECT source, n_ranks,
        ROUND(covn / varxn, 6) AS slope,
        ROUND((sy - (covn / varxn) * sx) / n_ranks, 6) AS intercept,
        CASE WHEN varyn <> 0
          THEN ROUND(covn * covn / (varxn * varyn), 6) END AS r2
      FROM fit ORDER BY source""")),

    // ---- Heaps-law vocabulary growth: per source, the V(N) curve —
    //      distinct vocabulary V against tokens seen N over a doubling
    //      doc-budget spine — plus the local log-log slope β between
    //      consecutive points (Heaps 1978; sub-linear β ≈ 0.4–0.6 for
    //      natural text, β → 0 for template spam, β → 1 for id-like
    //      noise). The 100 TB shape is the important part: "vocabulary
    //      within the first b docs" is NOT computed by b cumulative
    //      DISTINCTs or a running window — each term contributes its
    //      FIRST per-source rank (one term-keyed groupBy over the
    //      ceiling-bounded in-budget docs), and V(b) is then a count
    //      of first_rk ≤ b against the broadcast budget spine; token
    //      totals ride the same broadcast range join on the thin
    //      ranked relation. "First b docs" means per-SOURCE rank, not
    //      raw doc_id (SF up-scaling offsets copied ids — a raw-id
    //      prefix would freeze every budget onto the base copy). ----
    QuerySpec(
      "t67_heaps_law",
      (s, d) => {
        import s.implicits._
        val spine = broadcast(
          Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192,
            16384, 32768, 65536).toDF("budget"))
        val maxBudget = 65536
        // "first b docs" is the doc's RANK WITHIN ITS SOURCE (dense
        // row order by doc_id), not the raw global doc_id: SF
        // up-scaling offsets copied ids, so a raw `doc_id < budget`
        // prefix silently pins every budget to the base copy and the
        // growth curve stops describing the corpus. The rank is
        // built the t32 two-level way, never a corpus-sized window:
        // (1) per-(source, id-bucket) counts — one agg, no window;
        // (2) bucket offsets — a window over the METADATA-sized
        // bucket spine; (3) row_number only INSIDE buckets that can
        // still reach the 65536-doc budget ceiling (off < max budget
        // ⇒ ≤ 2 surviving buckets per source), so the doc-sized
        // window is bounded by the ceiling, not the corpus — and so
        // is the vocab explode below.
        val allDocs = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(toks).cast("long").as("ntok"))
          .withColumn("bkt", floor(col("doc_id") / maxBudget).cast("long"))
        val offsets = allDocs.groupBy(col("source"), col("bkt"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("off", coalesce(sum(col("bn")).over(
            Window.partitionBy(col("source")).orderBy(col("bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .filter(col("off") < maxBudget)
          .select(col("source"), col("bkt"), col("off"))
        val wb = Window.partitionBy(col("source"), col("bkt"))
          .orderBy(col("doc_id"))
        val ranked = allDocs.join(broadcast(offsets), Seq("source", "bkt"))
          .withColumn("rk", col("off") + row_number().over(wb))
          .filter(col("rk") <= maxBudget)
          .select(col("source"), col("doc_id"), col("ntok"), col("rk"))
        val docs = Scoped.persist(ranked)
        val growth = docs.join(spine, col("rk") <= col("budget"))
          .groupBy(col("source"), col("budget"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        // the rank table is ceiling-bounded (≤ 65536 × |sources|
        // rows) — broadcast it so only in-budget docs are exploded
        val firstDoc = Tables.documents(s, d)
          .join(broadcast(docs.select(col("source"), col("doc_id"),
            col("rk"))), Seq("source", "doc_id"))
          .select(col("source"), col("rk"), explode(toks).as("t"))
          .groupBy(col("source"), col("t"))
          .agg(min(col("rk")).as("first_rk"))
        val vocab = firstDoc.join(spine, col("first_rk") <= col("budget"))
          .groupBy(col("source"), col("budget"))
          .agg(count(lit(1)).as("vocab"))
        val w = Window.partitionBy(col("source")).orderBy(col("budget"))
        val pv = lag(col("vocab"), 1).over(w)
        val pn = lag(col("n_tokens"), 1).over(w)
        growth.join(vocab, Seq("source", "budget"))
          .select(col("source"), col("budget"), col("n_docs"),
            col("n_tokens"), col("vocab"),
            when(pn.isNotNull && col("n_tokens") =!= pn,
              round(log(col("vocab").cast("double") / pv.cast("double")) /
                log(col("n_tokens").cast("double") / pn.cast("double")), 6))
              .as("beta_local"))
          .orderBy("source", "budget")
      },
      Some("""WITH spine AS (
        SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
          8192, 16384, 32768, 65536]) AS budget),
      docs AS (
        SELECT source, doc_id,
          CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        FROM documents
        QUALIFY rk <= 65536),
      growth AS (
        SELECT source, budget, CAST(COUNT(1) AS BIGINT) AS n_docs,
          CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM docs JOIN spine ON rk <= budget GROUP BY 1, 2),
      fdoc AS (
        SELECT source, t, MIN(rk) AS first_rk
        FROM (SELECT d.source, d.rk, unnest(str_split(x.text, ' ')) AS t
              FROM documents x
              JOIN docs d ON d.source = x.source AND d.doc_id = x.doc_id) u
        GROUP BY 1, 2),
      vocab AS (
        SELECT source, budget, CAST(COUNT(1) AS BIGINT) AS vocab
        FROM fdoc JOIN spine ON first_rk <= budget GROUP BY 1, 2),
      curve AS (
        SELECT g.source, g.budget, g.n_docs, g.n_tokens, v.vocab
        FROM growth g
        JOIN vocab v ON v.source = g.source AND v.budget = g.budget),
      lagd AS (
        SELECT *, LAG(vocab) OVER w AS pv, LAG(n_tokens) OVER w AS pn
        FROM curve
        WINDOW w AS (PARTITION BY source ORDER BY budget))
      SELECT source, budget, n_docs, n_tokens, vocab,
        CASE WHEN pn IS NOT NULL AND n_tokens <> pn
          THEN ROUND(ln(CAST(vocab AS DOUBLE) / CAST(pv AS DOUBLE))
            / ln(CAST(n_tokens AS DOUBLE) / CAST(pn AS DOUBLE)), 6)
        END AS beta_local
      FROM lagd ORDER BY source, budget""")),

    // ---- tokenizer FERTILITY report: per (source, lang), BPE tokens
    //      per whitespace word and characters per token under the t38
    //      trained merges — the tokenizer-equity audit multilingual
    //      pipelines run before fixing a vocabulary (a language or
    //      source whose fertility is 2× pays 2× the context budget
    //      for the same text; cf. the fertility tables in the XLM-R /
    //      BLOOM tokenizer analyses). Completes the BPE family: t38
    //      trains, t40 applies per doc, t68 EVALUATES per corpus
    //      slice. Same memoized model, so training runs once per
    //      session across all three. Scale: one scan through the
    //      fused bpeTokenCount kernel + a (source × lang)-bounded
    //      rollup; integer sums, two final divisions. ----
    QuerySpec(
      "t68_bpe_fertility",
      (s, d) => {
        // collapsed per text, the t40 move: each doc contributes its
        // rep's bitwise-identical integer stats to its OWN (source,
        // lang) slice (the slice keys ride the mapping pass).
        val nTok = graft.functions.TextExprs.bpeTokenCount(
          col("text"), learnedMergePairs(s, d))
        val nWords = size(filter(toks, w => length(w) > 0))
        val nChars = length(translate(col("text"), " ", ""))
        Collapse.texts(s, d, Seq("source", "lang"))
          .perText(Seq("source", "lang"), Seq(
            nTok.cast("long").as("nt"), nWords.cast("long").as("nw"),
            nChars.cast("long").as("nc")))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
            sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"))
          .select(col("source"), col("lang"), col("n_docs"),
            col("n_words"), col("n_tokens"),
            round(col("n_tokens").cast("double") /
              col("n_words").cast("double"), 6).as("fertility"),
            round(col("n_chars").cast("double") /
              col("n_tokens").cast("double"), 6).as("chars_per_token"))
          .orderBy("source", "lang")
      },
      Some {
        val sb = new StringBuilder
        sb ++= bpeTrainCtes(BpeRounds)
        sb ++= """,
        d0 AS MATERIALIZED (
          SELECT doc_id, text, ' ' || array_to_string(list_transform(
              list_filter(str_split(text, ' '), w -> len(w) > 0),
              w -> array_to_string(str_split(w, ''), ' ')), ' | ') || ' '
            AS st
          FROM documents)"""
        for (r <- 1 to BpeRounds) {
          sb ++= s""",
        d$r AS MATERIALIZED (
          SELECT doc_id, text,
            replace(st, ' ' || b.l || ' ' || b.rgt || ' ',
                    ' ' || b.l || b.rgt || ' ') AS st
          FROM d${r - 1}, b$r b)"""
        }
        sb ++= s""",
        per AS (
          SELECT d.source, d.lang,
            len(list_filter(str_split(trim(x.st), ' '), t -> t <> '|'))
              AS nt,
            len(list_filter(str_split(d.text, ' '), w -> len(w) > 0))
              AS nw,
            len(replace(d.text, ' ', '')) AS nc
          FROM d$BpeRounds x JOIN documents d USING (doc_id))
        SELECT source, lang, CAST(COUNT(1) AS BIGINT) AS n_docs,
          CAST(SUM(nw) AS BIGINT) AS n_words,
          CAST(SUM(nt) AS BIGINT) AS n_tokens,
          ROUND(CAST(SUM(nt) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE), 6)
            AS fertility,
          ROUND(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE), 6)
            AS chars_per_token
        FROM per GROUP BY 1, 2 ORDER BY 1, 2"""
        sb.toString
      }),

    // ---- BOTTOM-K CONTAINMENT estimator (sketched quote detection):
    //      t57's exact directed containment C(A→B) = |S(A)∩S(B)|/|S(A)|
    //      priced as a SKETCH — sig(A) = the k=32 smallest distinct
    //      portable shingle hashes, est = |sig(A) ∩ TH(B)| / |sig(A)|,
    //      a uniform without-replacement membership sample of A's set
    //      (Cohen & Kaplan 2007's bottom-k discipline; Broder 1997 for
    //      the min-wise view). At 100 TB the full shingle sets never
    //      ship to the pair stage: a doc is 32 longs on the A side and
    //      its sorted hash set on the probe side, and the sorted-array
    //      intersect is the same [[graft.functions.TextExprs
    //      .SortedIntersectCount]] kernel t57 verifies with.
    //      DETERMINISTIC end to end on the t60 playbook: the hash is
    //      the portable 31-poly over shingle strings (the fused
    //      NgramPolyHashes kernel, ExprEquivSpec bit-equality), the
    //      oracle replays sig + membership + the same divisions, and
    //      rows hash-match — the estimator's ERROR column is thereby
    //      an oracle-checked calibration table, not a 3σ contract.
    //      Pairs come from the exact anchor (t57's prefix filter), so
    //      this measures estimator quality ON the decision set the
    //      exact operator emits; est and exact agree at 1.0 on every
    //      identical-text (intra-rep) pair by construction. Rep
    //      granularity throughout: sigs and hash sets live per
    //      distinct text, pairs expand through the dup mapping last
    //      (the t60 lesson). ----
    QuerySpec(
      "t69_bottomk_containment",
      (s, d) => {
        val kBot = 32
        val (mapping, sizes, repPairs) = containmentRepCore(s, d, 4, 5)
        val repTh = Scoped.persist(
          mapping.reps
            .select(col("rep"),
              array_sort(array_distinct(graft.functions.TextExprs
                .ngramPolyHashes(col("text"), 3))).as("ths"))
            .filter(size(col("ths")) > 0))
        val sig = repTh.select(col("rep"),
          slice(col("ths"), 1, kBot).as("sg"))
        // decorate at REP level (arrays stay here), expand with
        // SCALARS only — the containmentRepCore discipline
        val repEst = repPairs
          .join(sig.toDF("ra", "sg"), "ra")
          .join(repTh.toDF("rb", "thb"), "rb")
          .select(col("ra"), col("rb"), col("na"), col("ni"),
            graft.functions.TextExprs
              .sortedIntersectCount(col("sg"), col("thb")).as("hit"),
            size(col("sg")).as("k_eff"))
        // intra-rep pairs: identical text, sig(A) ⊆ TH(A) — the
        // sample hits in full and est is exactly 1.0
        val intra = sizes.select(col("doc_id").as("rep"), col("na"))
          .join(sig.select(col("rep"), size(col("sg")).as("k_eff")),
            "rep")
          .select(col("rep"), col("na"), col("na").as("ni"),
            col("k_eff").as("hit"), col("k_eff"))
        mapping.expandPairs(repEst, intra, directed = true)
          .select(col("da"), col("db"),
            col("na").cast("long").as("n_a"),
            (col("ni").cast("double") / col("na")).as("containment"),
            (col("hit").cast("double") / col("k_eff")).as("est"),
            abs(col("hit").cast("double") / col("k_eff") -
              col("ni").cast("double") / col("na")).as("abs_err"))
          .orderBy("da", "db")
      },
      Some(s"""WITH hs AS (
        SELECT DISTINCT doc_id, list_reduce(list_prepend(
          CAST(0 AS BIGINT), list_transform(str_split(s, ''),
            ch -> CAST(ascii(ch) AS BIGINT))),
          (acc, ch) -> (acc*31+ch) % 1000000007) AS th
        FROM ($shinglesSql) sh),
      ths AS (SELECT doc_id, list_sort(list(th)) AS l
              FROM hs GROUP BY doc_id),
      sig AS (SELECT doc_id, list_slice(l, 1, 32) AS sg FROM ths),
      ex AS ($containmentPairsSql),
      hit AS (
        SELECT e.da, e.db,
          len(list_filter(s.sg, x -> list_contains(t.l, x))) AS hit,
          len(s.sg) AS k_eff
        FROM ex e
        JOIN sig s ON s.doc_id = e.da
        JOIN ths t ON t.doc_id = e.db)
      SELECT e.da, e.db, e.n_a, e.containment,
        CAST(h.hit AS DOUBLE) / h.k_eff AS est,
        ABS(CAST(h.hit AS DOUBLE) / h.k_eff - e.containment) AS abs_err
      FROM ex e JOIN hit h ON h.da = e.da AND h.db = e.db
      ORDER BY e.da, e.db"""))
  )
}
