package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.mutable

/** Tuning knobs for the `_delta_log/` mirror. Both trade replay /
  * time-travel depth against log size, exactly as Delta's own
  * `delta.checkpointInterval` / `delta.logRetentionDuration` do.
  *
  * @param checkpointInterval write a parquet checkpoint every this
  *        many commits. Smaller = cheaper replay + faster sync
  *        restart, more checkpoint churn; larger = longer JSON tails.
  * @param retainVersions how many versions behind the current
  *        checkpoint must stay TIME-TRAVELABLE after
  *        [[DeltaLog.cleanObsoleteLogs]]. 0 (default) reclaims all
  *        JSON at/below the checkpoint: HEAD reads are unaffected
  *        (checkpoint + tail) but JSON-replay time travel below it is
  *        forfeited — the standard log-retention trade. A positive
  *        value anchors the cleanup at the newest checkpoint ≤
  *        (checkpoint − retainVersions): everything from that anchor
  *        up stays replayable (a retained JSON file is only useful if
  *        the replay can still reach a checkpoint at or below the
  *        target version).
  */
final case class DeltaLogConfig(checkpointInterval: Int = 10,
    retainVersions: Int = 0) {
  require(checkpointInterval > 0,
    s"checkpointInterval must be positive, got $checkpointInterval")
  require(retainVersions >= 0,
    s"retainVersions must be >= 0, got $retainVersions")
}

/** Minimal Delta-Lake transaction log (`_delta_log/`) alongside
  * [[BronzeMerge]]'s private manifest, so the reference's one named
  * sink — a Lakehouse **Delta** table (`/root/reference/config.py:16`,
  * `README.md:129-138`) — is readable by an EXTERNAL Delta client,
  * not only by this library. Follows the public Delta transaction
  * protocol (delta.io PROTOCOL.md): one `NNNNNNNNNNNNNNNNNNNN.json`
  * per version, newline-delimited action objects —
  * `protocol` (version 0), `metaData` (version 0 and on schema
  * evolution), `add` / `remove` file actions with sizes and
  * modification times, and a `commitInfo` provenance line. `path`
  * fields are percent-encoded relative paths per the protocol;
  * [[read]] decodes them before opening files.
  *
  * Design: the manifest stays the COMMIT source of truth (its CAS
  * rename is the atomicity point); the delta log is a deterministic
  * MIRROR derived from it by [[sync]]. Sync is idempotent and
  * self-healing: a crash between manifest commit and log write just
  * leaves the log lagging, and the next sync backfills every missing
  * version (diffing consecutive manifests batch-by-batch). If an old
  * manifest was vacuumed before its log version could be written, the
  * gap versions are filled with empty `commitInfo` commits and the
  * final version carries the cumulative diff — replay still lands on
  * exactly the current snapshot (Delta's own "log replay" contract).
  *
  * Concurrency: version files are published with [[AtomicFile.claim]]
  * (first writer wins), and after every attempt the
  * syncer REPLAYS THE FILE THE LOG ACTUALLY CONTAINS into its running
  * state rather than trusting the diff it computed. Two syncers —
  * even one racing a concurrent [[BronzeMerge.vacuum]], where the
  * laggard finds manifests gone and writes filler commits — therefore
  * converge: every later version is computed against the winner's
  * published state, never against a private in-memory view the log
  * does not contain.
  *
  * Scale notes (100 TB): sync appends O(changed files) JSON per
  * commit — the same cost Delta's own writers pay. Replay cost is
  * bounded the way Delta itself bounds it: every
  * [[DeltaLogConfig.checkpointInterval]] commits, sync writes a
  * PARQUET CHECKPOINT (`NNN.checkpoint.parquet`, one row per action
  * with the protocol / metaData / add struct columns the Delta
  * protocol specifies) plus the `_last_checkpoint` pointer, and
  * replay resolves checkpoint + JSON tail instead of the whole
  * history. The checkpoint-bounded snapshot is computed
  * DISTRIBUTIVELY ([[stateDf]]): the previous checkpoint is read as
  * a DataFrame, the ≤interval JSON tail (O(changed files), the only
  * driver-parsed part) is applied as a broadcast anti-join + union,
  * and the next checkpoint is written straight from that plan — no
  * driver-side materialization of the live-file set, which at 100 TB
  * is millions of rows. JSON commits at or below a checkpoint become
  * redundant for HEAD reads and can be reclaimed with
  * [[cleanObsoleteLogs]] (forfeiting JSON-replay time travel below
  * the checkpoint — Delta's own log-retention trade, see
  * [[DeltaLogConfig.retainVersions]]). [[BronzeMerge]] callers still
  * read through the manifest (O(1) version file) and never replay;
  * the log is the interop surface.
  */
object DeltaLog {

  val LogDirName = "_delta_log"

  /** One live data file in the replayed state. `path` is the raw
    * (percent-encoded) relative path exactly as logged. */
  final case class AddFile(path: String, size: Long, modificationTime: Long)

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
    * every JSON tail version exists. ≤ checkpointInterval existence
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
  // remove tombstones omitted: vacuum here is manifest-driven)
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
    * it from the pointer alone. The action rows are produced by the
    * DISTRIBUTED snapshot plan ([[stateDf]]) — previous checkpoint
    * parquet + JSON-tail diff — so no driver-side collect of the
    * live-file set happens even with millions of files. Returns false
    * (no-op) when the log at `v` carries no metaData yet — the
    * vacuumed-gap backfill writes filler commits whose state is
    * uncheckpointable, and a skipped optimization must never fail a
    * commit that already landed. */
  def writeCheckpoint(spark: SparkSession, table: String,
      v: Long): Boolean = {
    import spark.implicits._
    val f = fs(spark, table)
    val target = checkpointFile(table, v)
    if (!f.exists(target)) {
      // a retry for a version whose history cleanup already reclaimed
      // (no anchoring checkpoint, no full JSON replay) cannot rebuild
      // the snapshot — refuse gracefully instead of failing the
      // replay mid-read
      val reachable = bestCheckpoint(f, table, v).isDefined ||
        anchors(f, table, -1L, v)
      if (!reachable) return false
      val (filesDf, schemaOpt) = stateDf(spark, table, Some(v))
      val schema = schemaOpt.getOrElse(return false)
      val head = Seq(
        CpRow(Some(CpProtocol(1, 2)), None, None),
        CpRow(None, Some(CpMetaData(
          java.util.UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString,
          CpFormat("parquet", Map.empty), schema.json, Seq.empty,
          Map.empty, System.currentTimeMillis())), None)).toDS()
      val adds = filesDf.as[AddFile].map(a => CpRow(None, None,
        Some(CpAdd(a.path, Map.empty, a.size, a.modificationTime,
          dataChange = false))))
      // spark writes a directory; the protocol wants ONE
      // exactly-named file — stage (writer-unique dir), then move
      // the single part file into place
      val tmpDir = new Path(logDir(table),
        f".cp-tmp-$v%020d-${java.util.UUID.randomUUID()}")
      head.union(adds).coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmpDir.toString)
      val part = f.listStatus(tmpDir).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"checkpoint staging produced no parquet part under $tmpDir"))
      if (!f.rename(part, target) && !f.exists(target))
        throw new IllegalStateException(
          s"checkpoint rename failed: $target")
      f.delete(tmpDir, true)
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
    if (!newerExists) {
      val nActions = spark.read.parquet(target.toString).count()
      AtomicFile.replace(spark.sessionState.newHadoopConf(),
        new Path(logDir(table), "_last_checkpoint"),
        s"""{"version":$v,"size":$nActions}\n""")
    }
    true
  }

  /** Drop JSON commits the current checkpoint makes redundant —
    * Delta's log-retention cleanup. With the default
    * [[DeltaLogConfig.retainVersions]] = 0 everything at or below the
    * checkpoint goes; a positive value keeps that many newest
    * sub-checkpoint commits as a time-travel window. Publish temps a
    * crashed writer left go too, once older than the newest version or
    * `_last_checkpoint` kept ([[AtomicFile.sweepTemps]]). Checkpoint
    * parquets BELOW the retention anchor are reclaimed too (as
    * Delta's own cleanup does): every retained replay target anchors
    * at the retention-anchor checkpoint or newer, so older
    * checkpoints serve no read — without this, one parquet per
    * [[DeltaLogConfig.checkpointInterval]] commits accumulates
    * forever. HEAD reads are unaffected either way (checkpoint +
    * tail). Returns the deleted file names. */
  def cleanObsoleteLogs(spark: SparkSession, table: String,
      cfg: DeltaLogConfig = DeltaLogConfig()): Seq[String] = {
    val f = fs(spark, table)
    lastCheckpoint(f, table) match {
      case None => Seq.empty
      case Some(cp) =>
        val horizon =
          if (cfg.retainVersions == 0) cp
          else bestCheckpoint(f, table, cp - cfg.retainVersions)
            .getOrElse(-1L) // no anchor below the window: keep all
        val listed = f.listStatus(logDir(table)).toSeq
        val doomed = listed.map(_.getPath)
          .filter { p =>
            val n = p.getName
            (n.matches("\\d{20}\\.json") &&
              n.stripSuffix(".json").toLong <= horizon) ||
            (n.matches("\\d{20}\\.checkpoint\\.parquet") && horizon >= 0 &&
              n.stripSuffix(".checkpoint.parquet").toLong < horizon)
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

  /** Data files of a committed batch directory, as (relative path,
    * size, mtime) — parquet parts only, never `_SUCCESS`/stats
    * sidecars. Paths are percent-encoded for the log. */
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
    * schema seen (if any). This is the only driver-parsed piece of a
    * checkpointed replay, and it is bounded: ≤ checkpointInterval
    * commits of O(changed files) JSON each. */
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

  /** DISTRIBUTED snapshot of the log through `version` (inclusive;
    * None = latest): a DataFrame of live files
    * `(path, size, modificationTime)` plus the table schema from the
    * latest metaData. With a usable checkpoint the live set is
    * resolved as a plan — checkpoint parquet scan, broadcast
    * anti-join against the (small) set of tail-touched paths, union
    * of tail adds — and never materializes on the driver; only the
    * JSON tail (≤ interval commits) is driver-parsed. Without a
    * checkpoint the whole JSON history is the tail. */
  def stateDf(spark: SparkSession, table: String,
      version: Option[Long] = None): (DataFrame, Option[StructType]) = {
    import spark.implicits._
    val f = fs(spark, table)
    val top = version.getOrElse(latestLogVersion(spark, table))
    bestCheckpoint(f, table, top) match {
      case None =>
        val (touched, schema) = tailActions(f, table, 0L, top)
        val live = touched.valuesIterator.flatten.toSeq
        (spark.createDataset(live).toDF(), schema)
      case Some(cp) =>
        val cpDf = spark.read.parquet(checkpointFile(table, cp).toString)
        val (touched, tailSchema) = tailActions(f, table, cp + 1, top)
        val schema = tailSchema.orElse {
          // ≤1 metaData row in a conformant checkpoint — bounded read
          cpDf.filter(col("metaData").isNotNull)
            .select(col("metaData.schemaString")).head(1).headOption
            .map(r => DataType.fromJson(r.getString(0))
              .asInstanceOf[StructType])
        }
        val cpAdds = cpDf.filter(col("add").isNotNull).select(
          col("add.path").as("path"), col("add.size").as("size"),
          col("add.modificationTime").as("modificationTime"))
        val survivors =
          if (touched.isEmpty) cpAdds
          else cpAdds.join(
            broadcast(touched.keysIterator.toSeq.toDF("path")),
            Seq("path"), "left_anti")
        val tailAdds = touched.valuesIterator.flatten.toSeq
        val result =
          if (tailAdds.isEmpty) survivors
          else survivors.unionByName(spark.createDataset(tailAdds).toDF())
        (result, schema)
    }
  }

  /** Replay the log through `version` (inclusive; None = latest):
    * (live files, table schema from the latest metaData), on the
    * driver. Checkpointed histories resolve through the distributed
    * [[stateDf]] plan and collect only the final list (what a path
    * enumeration inherently needs); checkpoint-free histories replay
    * the JSON directly. Full-history JSON replay happens only for
    * time travel below the checkpoint (valid while those commits
    * survive [[cleanObsoleteLogs]]). */
  def state(spark: SparkSession, table: String,
      version: Option[Long] = None): (Seq[AddFile], Option[StructType]) = {
    import spark.implicits._
    val f = fs(spark, table)
    val top = version.getOrElse(latestLogVersion(spark, table))
    if (top < 0) return (Seq.empty, None)
    bestCheckpoint(f, table, top) match {
      case None =>
        val (touched, schema) = tailActions(f, table, 0L, top)
        (touched.valuesIterator.flatten.toSeq, schema)
      case Some(_) =>
        val (df, schema) = stateDf(spark, table, Some(top))
        (df.as[AddFile].collect().toSeq, schema)
    }
  }

  /** Read the table the way an external Delta client would: resolve
    * the live file set and schema purely from the log — never from
    * the manifest — and scan exactly those parquet files (decoding
    * the protocol's percent-encoded paths). `version` time-travels
    * (`VERSION AS OF`). */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val (files, schemaOpt) = state(spark, table, version)
    val schema = schemaOpt.getOrElse(throw new IllegalStateException(
      s"no metaData action in the delta log at $table"))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .parquet(files.map(a => s"$table/${decodePath(a.path)}"): _*)
  }

  /** Bring `_delta_log/` up to the manifest's current version; returns
    * the latest delta version after sync (-1 on an empty table).
    * Manifest version N ↔ delta version N−1 (Delta counts from 0).
    * Idempotent; safe to call after every commit, after crashes, and
    * concurrently with other syncers or a vacuum (see the
    * object-level concurrency note: each version's published content
    * is adopted into the running state, win or lose). */
  def sync(spark: SparkSession, table: String,
      cfg: DeltaLogConfig = DeltaLogConfig()): Long = {
    val f = fs(spark, table)
    val (cur, curBatches) = BronzeMerge.currentCommit(spark, table)
    if (cur == 0) return -1L
    val target = cur - 1L
    val logged = latestLogVersion(spark, table)
    if (logged >= target) return logged

    // running state: what the log says is live just before the first
    // version we are about to write (empty log → empty state)
    val (liveFiles, loggedSchema) =
      if (logged < 0) (Seq.empty[AddFile], None)
      else state(spark, table, Some(logged))
    val live = mutable.LinkedHashMap[String, AddFile]()
    liveFiles.foreach(a => live(a.path) = a)
    var schema: Option[StructType] = loggedSchema

    def batchesOf(files: Iterable[AddFile]): Set[String] =
      files.map(_.path.takeWhile(_ != '/')).toSet

    var v = logged + 1
    while (v <= target) {
      val manifestVersion = (v + 1).toInt
      // the batch list this delta version must land on; None when the
      // intermediate manifest was vacuumed (filler commit, diff later)
      val desired: Option[Seq[String]] =
        if (manifestVersion == cur) Some(curBatches)
        else scala.util.Try(
          BronzeMerge.commitAt(spark, table, manifestVersion)).toOption
      val lines = mutable.Buffer[String]()
      if (v == 0)
        lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      desired match {
        case None =>
          lines += commitInfoJson(v, "SKIPPED (manifest vacuumed)")
        case Some(batches) =>
          val have = batchesOf(live.values)
          val want = batches.toSet
          val removed = live.values.toSeq
            .filterNot(a => want.contains(a.path.takeWhile(_ != '/')))
          val addedBatches = batches.filterNot(have.contains)
          val added = addedBatches.flatMap(b => batchFiles(f, table, b))
          // schema: evolution here is ADDITIVE (bronze batches only
          // ever introduce columns), so per-commit cost is the
          // footers of the ADDED batches, read on the driver
          // (LocalParquet.schema, no Spark job), merged onto the
          // logged schema — never a rescan of every live batch
          // (O(changed files), the streaming hot path's bound). Every
          // batch's footers are read exactly once: the first commit
          // that establishes metaData.
          val newSchema = (schema, addedBatches) match {
            case (s0, Nil) => s0
            case (None, _) if batches.nonEmpty =>
              Some(LocalParquet.schema(spark, batches.map(b => s"$table/$b")))
            case (Some(prev), adds) =>
              val addSch =
                LocalParquet.schema(spark, adds.map(b => s"$table/$b"))
              // the additive assumption must FAIL LOUDLY when broken:
              // silently keeping the stale type would log a schema
              // that conflicts with the new files' footers, so an
              // external reader and the manifest-path schema-merging
              // read would disagree
              val conflicts = addSch.fields.flatMap { fd =>
                prev.fields.find(_.name == fd.name)
                  .filter(_.dataType != fd.dataType)
                  .map(p => s"${fd.name}: ${p.dataType.simpleString} vs " +
                    s"${fd.dataType.simpleString}")
              }
              require(conflicts.isEmpty,
                s"non-additive schema change in batches " +
                  s"${adds.mkString(",")} at $table — bronze schema " +
                  s"evolution is additive-only: ${conflicts.mkString("; ")}")
              val known = prev.fieldNames.toSet
              Some(StructType(
                prev.fields ++ addSch.fields.filterNot(fd =>
                  known.contains(fd.name))))
            case (s0, _) => s0
          }
          if (newSchema.isDefined && newSchema.map(_.json) != schema.map(_.json))
            lines += metaDataJson(table, newSchema.get)
          removed.foreach(a => lines += removeJson(a))
          added.foreach(a => lines += addJson(a))
          lines += commitInfoJson(v, "WRITE")
      }
      val won = AtomicFile.claim(spark.sessionState.newHadoopConf(),
        logFile(table, v), lines.mkString("\n") + "\n")
      // adopt the version's ACTUAL content — ours if the rename won
      // (the published bytes are exactly `lines`; no re-read), a
      // concurrent syncer's otherwise. Trusting the locally computed
      // diff on a LOST race is the vacuum race: a laggard that found
      // manifests vacuumed writes filler + a cumulative diff, and a
      // stale winner's later versions could omit removes for files
      // the real log added. Replaying the published content keeps
      // every syncer's running state equal to the log itself.
      val published: Iterator[String] =
        if (won) lines.iterator
        else AtomicFile.read(f, logFile(table, v)).linesIterator
      published.filter(_.nonEmpty)
        .foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("add")) {
            val a = node.get("add")
            val path = a.get("path").asText()
            live(path) = AddFile(path, a.get("size").asLong(),
              a.get("modificationTime").asLong())
          } else if (node.has("remove")) {
            live.remove(node.get("remove").get("path").asText())
          } else if (node.has("metaData")) {
            schema = Some(DataType.fromJson(
              node.get("metaData").get("schemaString").asText())
              .asInstanceOf[StructType])
          }
        }
      // Delta's checkpoint cadence: bound replay (and this sync's own
      // restart cost) to checkpoint + a ≤interval JSON tail
      if ((v + 1) % cfg.checkpointInterval == 0)
        writeCheckpoint(spark, table, v)
      v += 1
    }
    target
  }

  private def commitInfoJson(v: Long, op: String): String = {
    val root = mapper.createObjectNode()
    val ci = root.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("operation", op)
    ci.put("engineInfo", "graft-bronze")
    mapper.writeValueAsString(root)
  }

  private def metaDataJson(table: String, schema: StructType): String = {
    val root = mapper.createObjectNode()
    val md = root.putObject("metaData")
    // deterministic table id: rewriting the log yields the same id
    md.put("id", java.util.UUID
      .nameUUIDFromBytes(table.getBytes("UTF-8")).toString)
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
