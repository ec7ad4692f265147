package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reliable backing store for session-derived tables: each value is
  * written ONCE under a session-scoped spill directory and served from
  * storage. This replaces the `localCheckpoint` backing the memos
  * carried through round 13, whose trade was documented at every site:
  * checkpoint blocks have no lineage to recompute from, so on a
  * multi-executor cluster losing a holder (decommission, dynamic
  * deallocation) failed every later consumer unrecoverably. A spill
  * has neither problem — it lives on storage, any executor reads it,
  * and a spill that does go missing (swept temp dir, lost local disk)
  * fails the liveness check and is recomputed at the next access
  * instead of failing the read.
  *
  * Two shapes, both held in a [[SessionMemo]] with the same liveness
  * check (the completion marker [[Done]]):
  *  - a RELATION ([[relations]] / [[write]]): the value is written
  *    eagerly as parquet and served as a persisted file scan;
  *  - a TABLE ([[tables]] / [[table]]): the caller writes any format
  *    or layout into a dir allocated here, and the memo holds its path.
  *
  * Scale shape (100 TB / 1000 executors): point `graft.spill.dir` at
  * shared durable storage and every derived table becomes an ordinary
  * dataset there — executor churn costs nothing, and the spilled model
  * tables (dup labels, band keys, signatures) are the same
  * O(model)-sized relations they were in memory, never corpus bytes.
  * Locally the root defaults to a fresh JVM temp directory per
  * session, reclaimed with the OS temp sweep.
  */
object Spill {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private val rootMemo = new SessionMemo[String, String]

  /** Completion marker, written after a spill's write returns. The
    * `_` prefix keeps it out of every Spark file index, so readers of
    * any format never see it. */
  private val Done = "_graft_done"

  /** Session spill root: a UNIQUE per-session subdirectory under
    * `graft.spill.dir` when configured (durable / shared storage on a
    * real cluster), else one JVM-temp directory per session. The
    * subdirectory is keyed by applicationId + a fresh UUID because the
    * counter below resets per JVM: a restarted driver (or a second
    * concurrent one) pointed at the same durable dir would otherwise
    * collide with the previous run's `rel-1…` paths and fail the first
    * memoized write on ErrorIfExists. */
  private[graft] def root(s: SparkSession): String =
    rootMemo.getOrCompute(s, "root") {
      s.conf.getOption("graft.spill.dir") match {
        case Some(base) =>
          s"${base.stripSuffix("/")}/${s.sparkContext.applicationId}-" +
            java.util.UUID.randomUUID().toString.take(8)
        case None =>
          java.nio.file.Files.createTempDirectory("graft-spill-").toString
      }
    }

  /** Allocate a fresh `<tag>-<n>` dir under the session root, let
    * `write` fill it, then mark it complete; returns the path. */
  private[graft] def table(s: SparkSession, tag: String)
      (write: String => Unit): String = {
    val path = s"${root(s)}/$tag-${counter.incrementAndGet()}"
    write(path)
    val marker = new Path(path, Done)
    marker.getFileSystem(s.sessionState.newHadoopConf())
      .create(marker, true).close()
    path
  }

  /** Materialize `df` to a fresh spill path; returns (path, scan).
    * The returned scan is persist()ed as a BEST-EFFORT cache: unlike
    * the localCheckpoint it replaced, its lineage is the file scan,
    * so an evicted or lost block recomputes from the spill file
    * instead of failing the reader — the cache buys back the
    * in-memory read speed without re-buying the fault-tolerance
    * trade. */
  private[graft] def write(df: DataFrame): (String, DataFrame) = {
    val s = df.sparkSession
    val path = table(s, "rel")(df.write.parquet(_))
    (path, s.read.parquet(path).persist())
  }

  /** True iff the spill at `path` completed and its marker is still
    * there: a swept dir reads dead and recomputes, and deployments
    * that disable `_SUCCESS` markers are unaffected. */
  private[graft] def alive(s: SparkSession, path: String): Boolean =
    try {
      val marker = new Path(path, Done)
      marker.getFileSystem(s.sessionState.newHadoopConf()).exists(marker)
    } catch { case _: Throwable => false }

  /** A memo of [[table]] paths. */
  private[graft] def tables[K]: SessionMemo[K, String] =
    new SessionMemo[K, String](alive = alive)

  /** A memo of [[write]] relations, read as `._2`. The write is EAGER,
    * at compute: the memo outlives the computing query while its inputs
    * (Scoped persists) do not. A replaced relation's cache blocks are
    * dropped with it instead of pinning executor memory for the
    * session. */
  private[graft] def relations[K]: SessionMemo[K, (String, DataFrame)] =
    new SessionMemo[K, (String, DataFrame)](
      alive = (s, v) => alive(s, v._1),
      drop = v =>
        try { v._2.unpersist(); () } catch { case _: Throwable => () })
}
