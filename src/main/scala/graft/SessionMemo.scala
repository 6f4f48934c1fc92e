package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session memo for shared relations (ranked events, compressed
  * cents, basket pairs, cluster assignments) that several queries
  * consume — the pay-the-shuffle-once convention.
  *
  * Keys are the session OBJECT held weakly: when a session is stopped
  * and unreferenced, its map — and the `localCheckpoint` blocks the
  * cached plans pin — becomes collectable, and a new session can never
  * alias a stale entry the way an `identityHashCode` key could collide.
  * The inner map is a ConcurrentHashMap so a memoized relation is
  * computed at most once per (session, key) even under concurrent
  * first access.
  */
object SessionMemo {
  /** Evaluated OUTSIDE the map's `computeIfAbsent` (which only
    * allocates the holder): a memoized relation may itself consume
    * another memoized relation (pairSupport → orderBaskets), and a
    * nested `computeIfAbsent` on one shared map throws
    * "Recursive update". `lazy val` keeps the once-only guarantee. */
  private final class Lazily(f: () => Any) { lazy val value: Any = f() }

  private val memos =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Lazily]]()

  def getOrCompute(s: SparkSession, key: String)(f: => DataFrame): DataFrame =
    getOrComputeAs[DataFrame](s, key)(f)

  /** Non-relation variant (e.g. AutoTune's memoized corpus count).
    * The caller owns key-space discipline: one key, one type.
    */
  def getOrComputeAs[T](s: SparkSession, key: String)(f: => T): T = {
    val m = memos.synchronized {
      var t = memos.get(s)
      if (t == null) { t = new java.util.concurrent.ConcurrentHashMap[String, Lazily](); memos.put(s, t) }
      t
    }
    m.computeIfAbsent(key, _ => new Lazily(() => f)).value.asInstanceOf[T]
  }

  /** Drop one memoized entry — `Tables.load` replaces a relation
    * whose files changed, and tests flip a session conf a memoized
    * relation was derived under (e.g. the df-cap override). No-op if
    * absent.
    */
  def invalidate(s: SparkSession, key: String): Unit = memos.synchronized {
    val t = memos.get(s)
    if (t != null) t.remove(key)
  }
}
