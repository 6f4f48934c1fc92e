package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Query-scoped persist: cache a shared subplan (one that feeds
  * several branches of a single query — Spark has no cross-branch
  * subplan reuse) and release it automatically when the first action
  * that USES it completes, via a one-shot `QueryExecutionListener`.
  *
  * Why: a `QueryDef.fn` returns a LAZY plan, so it can never unpersist
  * its own inputs — the round-2 design relied on the Verify/Bench/test
  * harnesses calling `cacheManager.clearCache()` between queries,
  * which leaked cached blocks for any third-party caller of
  * `Registry.byName(...).fn`. This helper makes the query
  * self-releasing: the listener matches executions whose analyzed plan
  * contains this exact subplan (`sameResult`), so concurrent unrelated
  * queries are untouched (ConcurrencySpec runs the registry in
  * parallel) and the harness `clearCache` remains a harmless no-op
  * second release.
  *
  * The release is asynchronous (listener bus), so tests poll briefly;
  * correctness never depends on the timing — only executor memory
  * hygiene does.
  */
object AutoUnpersist {

  def scoped(df: DataFrame): DataFrame = {
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
}
