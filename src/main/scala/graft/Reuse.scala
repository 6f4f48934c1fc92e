package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.MemoCatalog

/** The one place a shared relation is pinned for reuse. Each entry
  * point names its scope, what pins the relation, and when it is
  * released:
  *
  *  - [[query]]: an eager cache, released when the first action that
  *    uses it completes (one query's branches share it);
  *  - [[within]]: a cache released when a method's body returns or
  *    throws (an eager method's several writes share it);
  *  - [[session]]: a `localCheckpoint`, held until the session is
  *    collected (several queries share it) — or, with `durable` inputs
  *    declared and `spark.graft.memo.dir` set, a parquet memo that
  *    outlives the session ([[graft.api.MemoCatalog]]).
  *
  * [[value]] and [[invalidate]] carry the session memo for values
  * that are not relations (resolved tables, corpus counts, merges).
  */
object Reuse {

  /** Query-scoped cache of a subplan that feeds several branches of one
    * query — Spark has no cross-branch subplan reuse. A `QueryDef.fn`
    * returns a LAZY plan, so it can never unpersist its own inputs: a
    * one-shot `QueryExecutionListener` releases the cache when the
    * first action whose analyzed plan contains this exact subplan
    * (`sameResult`) completes. Concurrent unrelated queries are
    * untouched (ConcurrencySpec runs the registry in parallel), and a
    * harness `clearCache` stays a harmless second release.
    *
    * The release is asynchronous (listener bus), so tests poll briefly;
    * correctness never depends on the timing — only executor memory
    * hygiene does.
    */
  def query(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cached = df.persist()
    // Materialize the cache EAGERLY (round 17): `persist` alone is
    // lazy, and under AQE the final action's broadcast-exchange
    // subqueries run on separate driver threads — every thread that
    // reaches the still-empty cache recomputes the whole shared
    // subplan (q161 measured 35 Spark jobs / 8.6 s of task time for a
    // 2.4 s query: ~4 redundant rebuilds of the shingle stream; at
    // cluster scale that is N redundant corpus scans). A raw RDD
    // count populates the InMemoryRelation WITHOUT emitting a
    // QueryExecutionListener event, so the release listener
    // (registered after, and only matching Dataset actions) still
    // fires on the first real consumer, never on the build.
    try cached.queryExecution.toRdd.count()
    catch {
      // broken inputs: stay lazy; the caller's own action will
      // surface the real error unchanged. NonFatal only (round-17
      // advisor): OOM/LinkageError must propagate, and a cancellation
      // during the count re-asserts the thread's interrupt flag.
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
    val target = cached.queryExecution.analyzed
    val released = new AtomicBoolean(false)
    object L extends QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit = {
        val uses =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case scala.util.control.NonFatal(_) => false }
        if (uses && released.compareAndSet(false, true)) {
          cached.unpersist(blocking = false)
          spark.listenerManager.unregister(L)
        }
      }
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        maybeRelease(qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        maybeRelease(qe)
    }
    spark.listenerManager.register(L)
    cached
  }

  /** Method-scoped cache: `df` is cached for the run of `f` (which may
    * run several actions over it) and released when `f` returns or
    * throws — an explicit release, not a listener.
    */
  def within[A](df: DataFrame)(f: DataFrame => A): A = {
    val cached = df.persist()
    try f(cached)
    finally { cached.unpersist(blocking = false); () }
  }

  /** Session-scoped relation, built at most once per (session, `key`)
    * and pinned so every consumer sees the same rows. With `durable`
    * inputs declared and `spark.graft.memo.dir` set, it reads through
    * the durable catalog under the memo name `key`, so a later session
    * over the same inputs skips `build`; otherwise `build` is pinned
    * with `localCheckpoint`. `durable` is only evaluated on a build.
    */
  def session(s: SparkSession, key: String, durable: => Seq[DataFrame] = Nil)(
      build: => DataFrame): DataFrame =
    value[DataFrame](s, key) {
      s.conf.getOption(MemoCatalog.DirConf).map(_ => durable).filter(_.nonEmpty) match {
        case Some(inputs) => MemoCatalog.readThrough(s, key, inputs)(build)
        case None => build.localCheckpoint()
      }
    }

  /** Evaluated OUTSIDE the map's `computeIfAbsent` (which only
    * allocates the holder): a memoized value may itself consume
    * another one (pairSupport → orderBaskets), and a nested
    * `computeIfAbsent` on one shared map throws "Recursive update".
    * `lazy val` keeps the once-only guarantee.
    */
  private final class Lazily(f: () => Any) { lazy val value: Any = f() }

  /** Keys are the session OBJECT held weakly: when a session is stopped
    * and unreferenced, its map — and the checkpoint blocks its
    * relations pin — becomes collectable, and a new session can never
    * alias a stale entry. The inner map is concurrent, so a value is
    * computed at most once per (session, key) even under concurrent
    * first access.
    */
  private val memos =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Lazily]]()

  /** Session memo of any value. The caller owns key-space discipline:
    * one key, one type.
    */
  def value[T](s: SparkSession, key: String)(f: => T): T = {
    val m = memos.synchronized {
      var t = memos.get(s)
      if (t == null) { t = new java.util.concurrent.ConcurrentHashMap[String, Lazily](); memos.put(s, t) }
      t
    }
    m.computeIfAbsent(key, _ => new Lazily(() => f)).value.asInstanceOf[T]
  }

  /** Drop one memoized entry — `Tables.load` replaces a relation whose
    * files changed, and tests flip a session conf a memoized relation
    * was derived under (e.g. the df-cap override). No-op if absent.
    */
  def invalidate(s: SparkSession, key: String): Unit = memos.synchronized {
    val t = memos.get(s)
    if (t != null) t.remove(key)
  }
}
