package graft.ingest

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Validates a `_delta_log/` directory against the invariants of the
  * PUBLIC Delta transaction protocol (delta.io PROTOCOL.md) that an
  * external reader depends on. This is the conformance half of the
  * interop claim for the reference's Delta-table sink
  * (`/root/reference/config.py:16`): [[DeltaLog]] WRITES the log, this
  * object proves the written bytes are the protocol's — and the
  * golden-log spec proves the READER accepts logs this writer never
  * produced (externally-authored action orderings, tombstones in
  * checkpoints, percent-encoded paths, extra fields).
  *
  * No third-party Delta implementation ships in this environment
  * (zero egress), so conformance is pinned structurally: every check
  * below is a documented protocol requirement, not an
  * implementation-specific convention.
  */
object DeltaConformance {

  private val mapper = new ObjectMapper()

  private val ActionKeys = Set("protocol", "metaData", "add", "remove",
    "commitInfo", "txn", "cdc")

  /** Validate the log at `table`. Returns violations as
    * human-readable strings; empty = conformant. `checkData` also
    * verifies every live `add` resolves to an existing file with the
    * logged size (driver-side listing — fixture/test scale). */
  def validate(spark: SparkSession, table: String,
      checkData: Boolean = true): Seq[String] = {
    val f = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new Path(table, DeltaLog.LogDirName)
    if (!f.exists(dir)) return Seq(s"no ${DeltaLog.LogDirName} at $table")
    val bad = scala.collection.mutable.Buffer[String]()
    val names = f.listStatus(dir).map(_.getPath.getName).toSeq.sorted

    // --- version-file inventory ------------------------------------
    val jsonVs = names.filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong)
    val cpVs = names.filter(_.matches("\\d{20}\\.checkpoint\\.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet").toLong)
    if (jsonVs.isEmpty && cpVs.isEmpty) bad += "log has no versions"

    // commits must be gap-free, and a truncated history (log
    // retention) must still be anchored: the earliest JSON commit is
    // only readable if a checkpoint covers everything below it
    jsonVs.sliding(2).foreach {
      case Seq(a, b) if b != a + 1 =>
        if (!cpVs.exists(c => c >= a && c < b))
          bad += s"gap in JSON commits: $a -> $b with no covering checkpoint"
      case _ => ()
    }
    jsonVs.headOption.filter(_ > 0).foreach { first =>
      if (!cpVs.exists(_ >= first - 1))
        bad += s"history starts at $first with no checkpoint >= ${first - 1}"
    }

    // --- per-commit action grammar ---------------------------------
    var sawProtocol = cpVs.nonEmpty // a checkpoint carries protocol
    var sawMetaData = cpVs.nonEmpty
    for (v <- jsonVs) {
      val p = new Path(dir, f"$v%020d.json")
      val content = AtomicFile.read(f, p)
      val lines = content.linesIterator.filter(_.nonEmpty).toSeq
      if (lines.isEmpty) bad += s"version $v: empty commit file"
      for ((line, i) <- lines.zipWithIndex) {
        parse(line) match {
          case None => bad += s"version $v line $i: not a JSON object"
          case Some(node) =>
            val keys = iterToSeq(node.fieldNames())
            if (keys.size != 1)
              bad += s"version $v line $i: ${keys.size} top-level fields " +
                s"(each action line is exactly one action): $keys"
            else if (!ActionKeys.contains(keys.head))
              bad += s"version $v line $i: unknown action '${keys.head}'"
            else keys.head match {
              case "protocol" =>
                sawProtocol = true
                val pr = node.get("protocol")
                if (!pr.has("minReaderVersion") || !pr.has("minWriterVersion"))
                  bad += s"version $v: protocol missing min*Version"
              case "metaData" =>
                sawMetaData = true
                bad ++= checkMetaData(node.get("metaData"), v)
              case "add" =>
                bad ++= checkFileAction(node.get("add"), v, "add",
                  requireSize = true)
              case "remove" =>
                bad ++= checkFileAction(node.get("remove"), v, "remove",
                  requireSize = false)
              case _ => () // commitInfo / txn / cdc: freeform
            }
        }
      }
    }
    if (!sawProtocol) bad += "no protocol action anywhere in the log"
    if (!sawMetaData) bad += "no metaData action anywhere in the log"

    // --- checkpoint structure --------------------------------------
    for (cv <- cpVs) {
      val cpPath = new Path(dir, f"$cv%020d.checkpoint.parquet")
      val cp = spark.read.parquet(cpPath.toString)
      val cols = cp.columns.toSet
      for (c <- Seq("protocol", "metaData", "add") if !cols.contains(c))
        bad += s"checkpoint $cv: missing required column '$c'"
      if (cols.contains("protocol") && cols.contains("metaData")) {
        val nP = cp.filter(col("protocol").isNotNull).count()
        val nM = cp.filter(col("metaData").isNotNull).count()
        if (nP != 1) bad += s"checkpoint $cv: $nP protocol rows (want 1)"
        if (nM != 1) bad += s"checkpoint $cv: $nM metaData rows (want 1)"
        val schemaStrings = cp.filter(col("metaData").isNotNull)
          .select(col("metaData.schemaString"))
          .collect().map(_.getString(0))
        schemaStrings.foreach { s =>
          if (!parseSchema(s)) bad += s"checkpoint $cv: unparseable schemaString"
        }
      }
    }

    // --- _last_checkpoint ------------------------------------------
    val ptr = new Path(dir, "_last_checkpoint")
    if (f.exists(ptr)) {
      parse(AtomicFile.read(f, ptr)) match {
        case None => bad += "_last_checkpoint: not valid JSON"
        case Some(node) =>
          if (!node.has("version")) bad += "_last_checkpoint: no version"
          else {
            val cv = node.get("version").asLong()
            val cpPath = new Path(dir, f"$cv%020d.checkpoint.parquet")
            if (!f.exists(cpPath))
              bad += s"_last_checkpoint points at $cv but no parquet exists"
            else if (node.has("size")) {
              val n = spark.read.parquet(cpPath.toString).count()
              if (n != node.get("size").asLong())
                bad += s"_last_checkpoint size ${node.get("size").asLong()} " +
                  s"!= checkpoint row count $n"
            }
          }
      }
    } else if (cpVs.nonEmpty) {
      bad += "checkpoints exist but _last_checkpoint is absent"
    }

    // --- the replayed HEAD must resolve to real bytes ---------------
    if (checkData && bad.isEmpty) {
      val DeltaLog.State(_, files, schema) = DeltaLog.state(spark, table)
      if (schema.isEmpty && files.nonEmpty)
        bad += "live files but no schema from metaData"
      for (a <- files) {
        val p = new Path(table, DeltaLog.decodePath(a.path))
        if (!f.exists(p)) bad += s"live add ${a.path}: file missing"
        else {
          val len = f.getFileStatus(p).getLen
          if (len != a.size)
            bad += s"live add ${a.path}: logged size ${a.size} != on-disk $len"
        }
      }
    }
    bad.toSeq
  }

  private def checkMetaData(md: JsonNode, v: Long): Seq[String] = {
    val bad = scala.collection.mutable.Buffer[String]()
    if (!md.has("id")) bad += s"version $v: metaData missing id"
    if (!md.has("format") || !md.get("format").has("provider"))
      bad += s"version $v: metaData missing format.provider"
    if (!md.has("schemaString") || !parseSchema(md.get("schemaString").asText()))
      bad += s"version $v: metaData schemaString missing or unparseable"
    if (!md.has("partitionColumns") || !md.get("partitionColumns").isArray)
      bad += s"version $v: metaData partitionColumns missing or not an array"
    bad.toSeq
  }

  private def checkFileAction(a: JsonNode, v: Long, kind: String,
      requireSize: Boolean): Seq[String] = {
    val bad = scala.collection.mutable.Buffer[String]()
    if (!a.has("path") || a.get("path").asText().isEmpty)
      bad += s"version $v: $kind without a path"
    else {
      val p = a.get("path").asText()
      // the protocol requires a RELATIVE percent-encoded path (or an
      // absolute URI for shallow clones — not produced here)
      if (p.startsWith("/") || p.contains("://"))
        bad += s"version $v: $kind path not relative: $p"
      if (p.split('/').contains(".."))
        bad += s"version $v: $kind path escapes the table root: $p"
    }
    if (requireSize && (!a.has("size") || a.get("size").asLong() < 0))
      bad += s"version $v: $kind without a non-negative size"
    if (kind == "add" && !a.has("modificationTime"))
      bad += s"version $v: add without modificationTime"
    if (kind == "add" && !a.has("dataChange"))
      bad += s"version $v: add without dataChange"
    bad.toSeq
  }

  private def parse(s: String): Option[JsonNode] =
    scala.util.Try(mapper.readTree(s)).toOption.filter(_.isObject)

  private def parseSchema(s: String): Boolean =
    scala.util.Try(DataType.fromJson(s).asInstanceOf[StructType]).isSuccess

  private def iterToSeq(it: java.util.Iterator[String]): Seq[String] = {
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

}
