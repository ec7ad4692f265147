package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.mutable

/** The `_delta_log/` of a [[BronzeMerge]] table: its one commit
  * record. The reference names one sink, a Lakehouse **Delta** table
  * (`config.py:16`, `README.md:129-138`), and the log is written to
  * the public Delta transaction protocol (delta.io PROTOCOL.md), so
  * an EXTERNAL Delta client reads the table too: one
  * `NNNNNNNNNNNNNNNNNNNN.json` per version, newline-delimited action
  * objects — `protocol` (version 0), `metaData` (version 0 and on
  * schema evolution), `add` / `remove` file actions with sizes and
  * modification times, and a `commitInfo` provenance line. `path`
  * fields are percent-encoded relative paths per the protocol;
  * [[read]] decodes them before opening files.
  *
  * A commit ([[commit]]) is ONE [[AtomicFile.claim]] of the next
  * version file: the first writer wins, a loser publishes nothing.
  * The batch set of a version is the set of first path segments of
  * its live `add`s; everything a bronze reader resolves comes from
  * replaying the log ([[state]]), once per operation: a writer
  * commits on top of the [[State]] it read.
  *
  * Scale notes (100 TB): a commit appends O(changed files) JSON — the
  * same cost Delta's own writers pay. Replay cost is bounded the way
  * Delta itself bounds it: every 10 commits a PARQUET CHECKPOINT
  * (`NNN.checkpoint.parquet`, one row per action with the protocol /
  * metaData / add struct columns the Delta protocol specifies) is
  * written with the `_last_checkpoint` pointer, and replay resolves
  * checkpoint + JSON tail instead of the whole history. Both run on
  * the driver without a Spark job: [[state]] reads the one checkpoint
  * file with [[LocalParquet.read]] plus the tail, and the commit that
  * lands a 10th version writes the next checkpoint with
  * [[LocalParquet.write]] from the state it just built. The driver
  * holds the live-file list either way — a commit needs it to know
  * which files leave. JSON commits at or below the checkpoint become
  * redundant for HEAD reads and can be reclaimed with
  * [[cleanObsoleteLogs]] (forfeiting time travel below it — Delta's
  * own log-retention trade).
  */
object DeltaLog {

  val LogDirName = "_delta_log"

  /** One live data file in the replayed state. `path` is the raw
    * (percent-encoded) relative path exactly as logged. */
  final case class AddFile(path: String, size: Long, modificationTime: Long)

  /** The replayed log at `version` (-1: no log yet): its live files
    * and the table schema from the latest metaData. */
  final case class State(version: Long, files: Seq[AddFile],
      schema: Option[StructType]) {
    /** Sorted names of the live batch directories. */
    def batches: Seq[String] = files.map(a => batchOf(a.path)).distinct.sorted
  }

  /** A parquet checkpoint is written every this many commits. */
  private val CheckpointInterval = 10

  private def logDir(table: String) = new Path(table, LogDirName)

  private def logFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sessionState.newHadoopConf())

  private val mapper = new ObjectMapper()

  /** Percent-encode a relative path for a `path` field (RFC 2396 via
    * java.net.URI, as the Delta protocol specifies). Identity for the
    * `[A-Za-z0-9._/-]` names this writer produces. */
  private[graft] def encodePath(p: String): String =
    new java.net.URI(null, null, p, null).getRawPath

  /** Decode a logged `path` field to the on-disk relative path.
    * Tolerates un-encoded paths (lenient external writers) — both
    * parse failures AND opaque parses (a first segment containing
    * `:` makes URI read it as a scheme and getPath return null)
    * fall back to the raw string. */
  private[graft] def decodePath(p: String): String =
    scala.util.Try(new java.net.URI(p).getPath).toOption
      .flatMap(Option(_)).getOrElse(p)

  /** Highest delta version present in the log — JSON commits or a
    * checkpoint that outlives cleaned-up JSON; -1 when none. */
  def latestLogVersion(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    val dir = logDir(table)
    if (!f.exists(dir)) -1L
    else {
      val vs = f.listStatus(dir).map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.json"))
      val jsonMax =
        if (vs.isEmpty) -1L else vs.map(_.stripSuffix(".json").toLong).max
      math.max(jsonMax, lastCheckpoint(f, table).getOrElse(-1L))
    }
  }

  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  /** Version in `_last_checkpoint`, if present and its parquet file
    * still exists. */
  private def lastCheckpoint(f: FileSystem, table: String): Option[Long] =
    rawCheckpointPointer(f, table)
      .filter(v => f.exists(checkpointFile(table, v)))

  /** True iff a replay anchored at checkpoint `cp` can reach `top`:
    * every JSON tail version exists. ≤ [[CheckpointInterval]] existence
    * probes on a healthy log (the tail is read right after anyway). */
  private def anchors(f: FileSystem, table: String, cp: Long,
      top: Long): Boolean =
    (cp + 1 to top).forall(v => f.exists(logFile(table, v)))

  /** Newest checkpoint usable for a replay through `top`. The pointer
    * is the O(1) fast path; when it is ahead of `top` (time travel
    * below the latest checkpoint), lagging a crash, or REGRESSED by a
    * stale concurrent writeCheckpoint (its advance-only guard is
    * check-then-act, so a lost race can land an old version after
    * cleanObsoleteLogs reclaimed the JSON above it), fall back to
    * LISTING the log dir for checkpoint files — what external Delta
    * readers do — so the newest checkpoint that still anchors an
    * unbroken tail wins. The anchor probe is what makes a regressed
    * pointer self-heal instead of stranding HEAD reads. */
  private def bestCheckpoint(f: FileSystem, table: String,
      top: Long): Option[Long] = {
    lastCheckpoint(f, table).filter(_ <= top)
      .filter(cp => anchors(f, table, cp, top))
      .orElse {
        val dir = logDir(table)
        if (!f.exists(dir)) None
        else f.listStatus(dir).map(_.getPath.getName).toSeq
          .filter(_.matches("\\d{20}\\.checkpoint\\.parquet"))
          .map(_.stripSuffix(".checkpoint.parquet").toLong)
          .filter(cp => cp <= top && anchors(f, table, cp, top))
          .maxOption
      }
  }

  /** The pointer's version as written, without checking the parquet
    * file exists — the advance-only guard needs the raw value. */
  private[ingest] def rawCheckpointPointer(f: FileSystem,
      table: String): Option[Long] = {
    val ptr = new Path(logDir(table), "_last_checkpoint")
    if (!f.exists(ptr)) None
    else scala.util.Try(mapper.readTree(AtomicFile.read(f, ptr))
      .get("version").asLong()).toOption
  }

  // checkpoint row layout per the Delta protocol: one action per row,
  // nullable struct columns (txn omitted: this writer issues none;
  // remove tombstones omitted: vacuum deletes only files no live add
  // names)
  private[graft] final case class CpFormat(provider: String,
      options: Map[String, String])
  private[graft] final case class CpMetaData(id: String, format: CpFormat,
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long)
  private[graft] final case class CpProtocol(minReaderVersion: Int,
      minWriterVersion: Int)
  private[graft] final case class CpAdd(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean)
  private[graft] final case class CpRow(protocol: Option[CpProtocol],
      metaData: Option[CpMetaData], add: Option[CpAdd])

  /** Write the parquet checkpoint of the log state at `v` plus the
    * `_last_checkpoint` pointer. Idempotent; the checkpoint is ONE
    * parquet file named per the protocol so an external reader finds
    * it from the pointer alone. The state is replayed on the driver
    * ([[state]]); a commit skips that replay and hands the state it
    * built to the same writer. Returns false (no-op) when the state at
    * `v` can no longer be rebuilt (its history was reclaimed) or
    * carries no metaData: a skipped optimization must never fail a
    * commit that already landed. */
  def writeCheckpoint(spark: SparkSession, table: String,
      v: Long): Boolean = {
    val f = fs(spark, table)
    // a retry for a version whose history cleanup already reclaimed
    // (no anchoring checkpoint, no full JSON replay) cannot rebuild
    // the snapshot — refuse gracefully instead of failing the replay
    // mid-read
    val reachable = bestCheckpoint(f, table, v).isDefined ||
      anchors(f, table, -1L, v)
    reachable && checkpoint(spark, f, table, state(spark, table, Some(v)))
  }

  /** Write `st` as the checkpoint at `st.version` unless one is there,
    * then advance `_last_checkpoint` to it. The rows are what a Spark
    * write of the same `CpRow` Dataset lays down ([[LocalParquet.write]],
    * published under the fixed name), so the pointer's `size` is the
    * row count without reading the file back — a checkpoint already
    * there was written the same way from the same state. False when
    * `st` carries no metaData. */
  private def checkpoint(spark: SparkSession, f: FileSystem, table: String,
      st: State): Boolean = {
    import spark.implicits._
    val schema = st.schema.getOrElse(return false)
    val v = st.version
    val target = checkpointFile(table, v)
    if (!f.exists(target)) {
      val head = Iterator(
        CpRow(Some(CpProtocol(1, 2)), None, None),
        CpRow(None, Some(CpMetaData(tableId(table),
          CpFormat("parquet", Map.empty), schema.json, Seq.empty,
          Map.empty, System.currentTimeMillis())), None))
      val adds = st.files.iterator.map(a => CpRow(None, None,
        Some(CpAdd(a.path, Map.empty, a.size, a.modificationTime,
          dataChange = false))))
      LocalParquet.write(spark, logDir(table).toString, head ++ adds,
        target.getName)
    }
    // pointer last: a crash before this line leaves a valid orphan
    // checkpoint that the next writeCheckpoint call re-points. The
    // advance-only check below is BEST-EFFORT (check-then-act): it
    // narrows but cannot close the window where a lagging caller
    // lands an older version over a newer pointer. Correctness does
    // not rest on it — bestCheckpoint's anchor probe falls back to
    // listing when a pointer's tail is broken, so a regressed
    // pointer degrades a read to one extra listing, never strands
    // it. (A pointer whose parquet is missing is corrupt;
    // overwriting it heals.) [[AtomicFile.replace]] never exposes a
    // partial pointer, and a reader that finds none falls back to
    // listing.
    val newerExists = rawCheckpointPointer(f, table)
      .exists(cur => cur > v && f.exists(checkpointFile(table, cur)))
    if (!newerExists)
      AtomicFile.replace(f.getConf,
        new Path(logDir(table), "_last_checkpoint"),
        s"""{"version":$v,"size":${st.files.size + 2}}\n""")
    true
  }

  /** Drop the JSON commits at or below the current checkpoint, which
    * HEAD reads no longer need — Delta's log-retention cleanup, which
    * forfeits time travel below the checkpoint. Older checkpoint
    * parquets go too (as Delta's own cleanup does): every remaining
    * replay target anchors at the current checkpoint, so without this
    * one parquet per [[CheckpointInterval]] commits accumulates
    * forever. Publish temps a crashed writer left go too, once older
    * than the newest version or `_last_checkpoint` kept
    * ([[AtomicFile.sweepTemps]]). Returns the deleted file names. */
  def cleanObsoleteLogs(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, table)
    lastCheckpoint(f, table) match {
      case None => Seq.empty
      case Some(cp) =>
        val listed = f.listStatus(logDir(table)).toSeq
        val doomed = listed.map(_.getPath)
          .filter { p =>
            val n = p.getName
            (n.matches("\\d{20}\\.json") &&
              n.stripSuffix(".json").toLong <= cp) ||
            (n.matches("\\d{20}\\.checkpoint\\.parquet") &&
              n.stripSuffix(".checkpoint.parquet").toLong < cp)
          }
        val doomedNames = doomed.map(_.getName).toSet
        AtomicFile.sweepTemps(f, listed, n => !doomedNames(n) &&
          (n == "_last_checkpoint" || n.matches("\\d{20}\\..*")))
        doomed.sortBy(_.getName).map { p =>
          f.delete(p, false)
          // a checksummed fs keeps a `.name.crc` sidecar — reclaim it
          // with its file, never leave it orphaned
          val crc = new Path(p.getParent, s".${p.getName}.crc")
          if (f.exists(crc)) f.delete(crc, false)
          p.getName
        }
    }
  }

  /** Data files of a batch directory, as (relative path, size, mtime)
    * — parquet parts only, never `_SUCCESS`/stats sidecars. Paths are
    * percent-encoded for the log. */
  private def batchFiles(f: FileSystem, table: String,
      batch: String): Seq[AddFile] = {
    val dir = new Path(table, batch)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(s => AddFile(encodePath(s"$batch/${s.getPath.getName}"),
        s.getLen, s.getModificationTime))
  }

  /** Driver-side replay of the JSON commits in `[from, to]` onto a
    * running view. Returns, per touched path in first-touch order,
    * the FINAL outcome across the range — `Some(addFile)` if the last
    * action was an add, `None` if a remove — plus the last metaData
    * schema seen (if any). On a checkpointed log it is bounded:
    * ≤ [[CheckpointInterval]] commits of O(changed files) JSON each. */
  private def tailActions(f: FileSystem, table: String, from: Long,
      to: Long): (mutable.LinkedHashMap[String, Option[AddFile]],
        Option[StructType]) = {
    val touched = mutable.LinkedHashMap[String, Option[AddFile]]()
    var schema: Option[StructType] = None
    var v = from
    while (v <= to) {
      val p = logFile(table, v)
      require(f.exists(p), s"delta log version $v missing at ${logDir(table)}")
      AtomicFile.read(f, p).linesIterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("add")) {
          val a = node.get("add")
          val path = a.get("path").asText()
          touched(path) = Some(AddFile(path, a.get("size").asLong(),
            a.get("modificationTime").asLong()))
        } else if (node.has("remove")) {
          touched(node.get("remove").get("path").asText()) = None
        } else if (node.has("metaData")) {
          schema = Some(DataType.fromJson(
            node.get("metaData").get("schemaString").asText())
            .asInstanceOf[StructType])
        }
      }
      v += 1
    }
    (touched, schema)
  }

  // the columns of a checkpoint row a driver-side replay reads
  private[ingest] final case class CpSchemaString(schemaString: String)
  private[ingest] final case class CpLive(metaData: Option[CpSchemaString],
      add: Option[AddFile])

  /** Replay the log through `version` (inclusive; None = latest), on
    * the driver and without a Spark job: the newest usable checkpoint
    * is read with [[LocalParquet.read]] (only its metaData schema and
    * add path/size/mtime columns), then the JSON tail is applied. Full
    * JSON replay happens only without a checkpoint at or below
    * `version` (valid while those commits survive
    * [[cleanObsoleteLogs]]). */
  def state(spark: SparkSession, table: String,
      version: Option[Long] = None): State = {
    import spark.implicits._
    val f = fs(spark, table)
    val top = version.getOrElse(latestLogVersion(spark, table))
    if (top < 0) return State(-1L, Seq.empty, None)
    val (base, baseSchema, from) = bestCheckpoint(f, table, top) match {
      case None => (Seq.empty[AddFile], None, 0L)
      case Some(cp) =>
        val rows = LocalParquet.read[CpLive](spark,
          checkpointFile(table, cp).toString)
        (rows.flatMap(_.add), rows.flatMap(_.metaData).lastOption
          .map(m => DataType.fromJson(m.schemaString).asInstanceOf[StructType]),
          cp + 1)
    }
    val (touched, tailSchema) = tailActions(f, table, from, top)
    State(top, base.filterNot(a => touched.contains(a.path)) ++
      touched.valuesIterator.flatten, tailSchema.orElse(baseSchema))
  }

  /** Read the table the way an external Delta client would: resolve
    * the live file set and the metaData schema from the log, and scan
    * exactly those parquet files (decoding the protocol's
    * percent-encoded paths). `version` time-travels (`VERSION AS OF`). */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val State(_, files, schemaOpt) = state(spark, table, version)
    val schema = schemaOpt.getOrElse(throw new IllegalStateException(
      s"no metaData action in the delta log at $table"))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .parquet(files.map(a => s"$table/${decodePath(a.path)}"): _*)
  }

  /** The batch directory a logged path lies in: its first segment. */
  private[ingest] def batchOf(path: String): String =
    decodePath(path).takeWhile(_ != '/')

  /** Publish version `base.version + 1`, whose live batches are
    * `batches`, on top of `base`, the state the caller read: `remove`
    * actions for the files of batches that left the set, `add` actions
    * for the parquet parts of batches that joined it, and a `metaData`
    * action when the added footers widen the schema. Footers are read
    * on the driver ([[LocalParquet.schema]]), only those of the added
    * batches. Bronze evolution is additive-only, so a column whose
    * type changes fails loudly here, before anything is published.
    * The version file is claimed with [[AtomicFile.claim]]; returns
    * false, having published nothing, when a concurrent writer claimed
    * that version first (a base it overtook loses the same way). The
    * winner of every [[CheckpointInterval]]-th version also writes a
    * checkpoint, from `base` minus the removes plus the adds. */
  private[ingest] def commit(spark: SparkSession, f: FileSystem,
      table: String, base: State, batches: Seq[String]): Boolean = {
    val v = base.version + 1
    val State(_, live, schema) = base
    val have = base.batches.toSet
    val want = batches.toSet
    val adds = batches.distinct.filterNot(have)
      .flatMap(b => batchFiles(f, table, b))
    val added = adds.map(a => batchOf(a.path)).distinct
    val newSchema =
      if (added.isEmpty) schema
      else Some {
        val more = LocalParquet.schema(spark, added.map(b => s"$table/$b"))
        schema.fold(more) { prev =>
          val conflicts = more.fields.flatMap { fd =>
            prev.find(_.name == fd.name).filter(_.dataType != fd.dataType)
              .map(p => s"${fd.name}: ${p.dataType.simpleString} vs " +
                s"${fd.dataType.simpleString}")
          }
          require(conflicts.isEmpty,
            s"non-additive schema change in batches " +
              s"${added.mkString(",")} at $table — bronze schema " +
              s"evolution is additive-only: ${conflicts.mkString("; ")}")
          StructType(prev.fields ++
            more.fields.filterNot(fd => prev.fieldNames.contains(fd.name)))
        }
      }
    val (kept, removed) = live.partition(a => want(batchOf(a.path)))
    val lines = mutable.Buffer[String]()
    if (v == 0)
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    if (newSchema.map(_.json) != schema.map(_.json))
      lines += metaDataJson(table, newSchema.get)
    removed.foreach(lines += removeJson(_))
    adds.foreach(lines += addJson(_))
    lines += commitInfoJson()
    val won = AtomicFile.claim(f.getConf, logFile(table, v),
      lines.mkString("\n") + "\n")
    if (won && (v + 1) % CheckpointInterval == 0)
      checkpoint(spark, f, table, State(v, kept ++ adds, newSchema))
    won
  }

  private def commitInfoJson(): String = {
    val root = mapper.createObjectNode()
    val ci = root.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("operation", "WRITE")
    ci.put("engineInfo", "graft-bronze")
    mapper.writeValueAsString(root)
  }

  /** Deterministic table id: rewriting the log yields the same id. */
  private def tableId(table: String): String =
    java.util.UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString

  private def metaDataJson(table: String, schema: StructType): String = {
    val root = mapper.createObjectNode()
    val md = root.putObject("metaData")
    md.put("id", tableId(table))
    val fmt = md.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    md.put("schemaString", schema.json)
    md.putArray("partitionColumns")
    md.putObject("configuration")
    md.put("createdTime", System.currentTimeMillis())
    mapper.writeValueAsString(root)
  }

  private def addJson(a: AddFile): String = {
    val root = mapper.createObjectNode()
    val add = root.putObject("add")
    putFile(add, a)
    add.put("modificationTime", a.modificationTime)
    add.put("dataChange", true)
    mapper.writeValueAsString(root)
  }

  private def removeJson(a: AddFile): String = {
    val root = mapper.createObjectNode()
    val rm = root.putObject("remove")
    putFile(rm, a)
    rm.put("deletionTimestamp", System.currentTimeMillis())
    rm.put("dataChange", true)
    mapper.writeValueAsString(root)
  }

  private def putFile(node: ObjectNode, a: AddFile): Unit = {
    node.put("path", a.path)
    node.putObject("partitionValues")
    node.put("size", a.size)
  }
}
