package graft

import org.apache.spark.sql.SparkSession

/** Per-session memo with a WEAK session key: a churned-and-dropped
  * SparkSession takes its cached values with it instead of pinning
  * them (and, via DataFrame values, the session itself) for the life
  * of the JVM. The inner per-session map is strongly keyed only on
  * value types. Used by [[Tables]] (plan construction) and
  * `graft.ops.Similarity` (trained model tables).
  */
private[graft] final class SessionMemo[K, V] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, V]]()

  private def memoFor(s: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[K, V] =
    bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[K, V]()
        bySession.put(s, m)
      }
      m
    }

  def getOrCompute(s: SparkSession, key: K)(compute: => V): V =
    memoFor(s).computeIfAbsent(key, _ => compute)

  /** [[getOrCompute]] with a liveness check: a cached value that no
    * longer validates is REPLACED by a fresh compute instead of being
    * served stale — the invalidate-and-recompute hook [[SpillMemo]]
    * builds on (a spill file swept from disk must recompute, not fail
    * every later consumer). */
  def getOrComputeValid(s: SparkSession, key: K)(valid: V => Boolean)
      (compute: => V): V =
    memoFor(s).compute(key, (_, cur) =>
      if (cur != null && valid(cur)) cur else compute)

  def clear(): Unit = bySession.synchronized(bySession.clear())

  def sessionCount: Int = bySession.synchronized(bySession.size)
}

/** [[SessionMemo]] variant for entries keyed by a stable identity
  * plus a VERSION stamp (a [[Tables.dirFingerprint]]): a new version
  * REPLACES the entry instead of accreting beside it, so a fixture
  * directory rewritten many times in one session holds exactly one
  * live memo value per identity — the advisor's accretion note on the
  * fingerprint-keyed memos. A version mismatch always recomputes
  * (even "backwards": a dir restored to an old fingerprint gets a
  * fresh read — correctness over cache retention).
  */
private[graft] final class VersionedSessionMemo[K, V] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, (Long, V)]]()

  private def memoFor(s: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[K, (Long, V)] =
    bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[K, (Long, V)]()
        bySession.put(s, m)
      }
      m
    }

  def getOrCompute(s: SparkSession, key: K, version: Long)
      (compute: => V): V =
    memoFor(s).compute(key, (_, cur) =>
      if (cur != null && cur._1 == version) cur
      else (version, compute))._2

  /** Set the entry for `key` at `version`, replacing any other. */
  def put(s: SparkSession, key: K, version: Long, value: V): Unit =
    memoFor(s).put(key, (version, value))

  def entryCount(s: SparkSession): Int = memoFor(s).size
}
