package graft

import org.apache.spark.sql.SparkSession

/** The one per-session memo behind every session-derived value: plan
  * reuse ([[Tables]]), trained models, probes, and the spilled
  * relations and tables of [[Spill]].
  *
  *  - The session key is WEAK: a churned-and-dropped SparkSession takes
  *    its cached values with it instead of pinning them (and, via
  *    DataFrame values, the session itself) for the life of the JVM.
  *  - Each entry carries a VERSION, the [[Tables.fingerprint]] of the
  *    fixture tables it was derived from (0 for keys that are not dirs).
  *    A new version REPLACES the entry instead of accreting beside it,
  *    so a fixture rewritten many times in one session holds one live
  *    value per key. A mismatch always recomputes, even "backwards": a
  *    dir restored to an old fingerprint gets a fresh read.
  *  - `alive` is an optional liveness check: a cached value that fails
  *    it is replaced by a fresh compute instead of being served stale
  *    (a spill swept from disk must recompute, not fail every later
  *    consumer). `drop` runs on every value a new one replaces.
  */
private[graft] final class SessionMemo[K, V](
    alive: (SparkSession, V) => Boolean = (_: SparkSession, _: V) => true,
    drop: V => Unit = (_: V) => ()) {
  private val bySession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, (Long, V)]]()
  SessionMemo.all.add(this)

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

  def getOrCompute(s: SparkSession, key: K, version: Long = 0L)
      (compute: => V): V =
    memoFor(s).compute(key, (_, cur) =>
      if (cur != null && cur._1 == version && alive(s, cur._2)) cur
      else {
        if (cur != null) drop(cur._2)
        (version, compute)
      })._2

  /** Set the entry for `key` at `version`, replacing any other. */
  def put(s: SparkSession, key: K, version: Long, value: V): Unit =
    memoFor(s).put(key, (version, value))

  def clear(): Unit = bySession.synchronized(bySession.clear())

  def sessionCount: Int = bySession.synchronized(bySession.size)

  def entryCount(s: SparkSession): Int =
    bySession.synchronized(Option(bySession.get(s)).fold(0)(_.size))
}

private[graft] object SessionMemo {
  private val all =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_, _]]()

  /** Entries `s` holds across every memo in the JVM. */
  def entryCount(s: SparkSession): Int =
    all.stream().mapToInt(_.entryCount(s)).sum()
}
