package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md /
  * FIXTURES.md §A). Every `SparkEntry.queries` entry receives the
  * scale-factor directory and reads through these helpers so the scan
  * (with Catalyst column pruning + predicate pushdown) is the only
  * I/O the query performs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, dir, table), versioned by the table's
  // [[fingerprint]]: file listing + parquet footer schema reads happen
  // once per session instead of once per query — pure plan-construction
  // reuse, no data is cached. The version makes an in-session rewrite
  // of a fixture directory visible: a cached DataFrame's file index is
  // snapshotted at construction, so without it a rewritten table would
  // be read through a listing of deleted part files. One cheap
  // listStatus per call buys that safety.
  private val memo = new SessionMemo[(String, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.getOrCompute(spark, (dir, name), fingerprint(spark, dir, name))(
      spark.read.parquet(s"$dir/$name.parquet"))

  private[graft] def memoEntryCount(spark: SparkSession): Int =
    memo.entryCount(spark)

  /** Order-sensitive change fingerprint of `dir`'s `tables`: a
    * polynomial fold over (name, mtime, length) of each table's sorted
    * file listing — unlike a plain XOR, same-millisecond writes and
    * swapped file lengths cannot cancel out. One listStatus per table;
    * an absent table folds as empty. The version of every memo whose
    * value is derived from fixture tables ([[SessionMemo]]). */
  private[graft] def fingerprint(spark: SparkSession, dir: String,
      tables: String*): Long = {
    val conf = spark.sessionState.newHadoopConf()
    tables.foldLeft(1125899906842597L) { (acc, t) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val files =
        try p.getFileSystem(conf).listStatus(p)
        catch {
          case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus]
        }
      files.sortBy(_.getPath.getName)
        .foldLeft(acc * 1000003L + t.hashCode) { (a, st) =>
          a * 1000003L +
            ((st.getPath.getName.hashCode.toLong * 31L +
              st.getModificationTime) * 31L + st.getLen)
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet physical types across
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses to
    * read as a timestamp — [PARQUET_TYPE_ILLEGAL] — so sessions set
    * `spark.sql.legacy.parquet.nanosAsLong` and the int64 nanos arrive
    * as LongType) and plain TIMESTAMP(MICROS) (reads as TimestampType
    * directly). Branch on the LOADED type: truncate nanos→µs only when
    * the column came back as a long; pass a native timestamp through
    * unchanged. Either way the result is µs TimestampType, exactly what
    * DuckDB materializes for the same column, so oracles agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    val withTs = raw.schema("ts").dataType match {
      case LongType =>
        require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
          "events.ts read as long: session must be built with " +
            "spark.sql.legacy.parquet.nanosAsLong=true (parquet TIMESTAMP(NANOS))")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        // timestamp[us] with isAdjustedToUTC=false. All graft sessions
        // run with spark.sql.session.timeZone=UTC, so NTZ→TZ cast is an
        // epoch-preserving relabel — same micros DuckDB's epoch_us sees.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected type $other")
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
