package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Task-failure resilience — the capability CONTRAST with the
  * reference: a dead worker there hangs the master's completion
  * barrier forever (`sem_wait` per mapper, `master_manager.c:147-149`,
  * posts only on a clean `COMMAND_STOP`), so one lost task loses the
  * job. SURVEY §4 claims Spark gives retry "for free"; this suite
  * PROVES it by injecting a first-attempt task death into a real
  * shuffle job and asserting the job still answers exactly.
  *
  * Needs its own SparkSession: task retry in local mode exists only
  * with the `local[N, maxFailures]` master (plain `local[N]` runs
  * with maxFailures=1 — any task failure fails the job), and the
  * master is fixed at context creation. Suites run sequentially in
  * the one forked test JVM, so stopping the shared session here is
  * safe: the next suite's `getOrCreate` builds a fresh one, and
  * every cross-query memo (`Reuse.session`, `Reuse.value`) is keyed
  * on the session object, so nothing stale survives the swap.
  */
object ResilienceSpec {
  // local mode runs tasks in this JVM, so a static counter observes
  // the injected failure even though Spark discards accumulator
  // updates from failed task attempts
  val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ResilienceSpec extends AnyFunSuite {

  test("a task killed on its first attempt is retried and the shuffle job still answers exactly") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // 4 threads, up to 3 attempts per task
    val s = GraftSession.create("local[4, 3]")
    try {
      s.sparkContext.setLogLevel("WARN")
      import s.implicits._
      ResilienceSpec.injectedFailures.set(0)
      // 8-partition map stage feeding a shuffle aggregate; partition 3
      // dies on attempt 0 and only on attempt 0
      val mapped = s.range(0, 1000, 1, 8).as[Long].mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc.partitionId() == 3 && tc.attemptNumber() == 0) {
          ResilienceSpec.injectedFailures.incrementAndGet()
          throw new RuntimeException("injected first-attempt task death (ResilienceSpec)")
        }
        it
      }
      val byKey = mapped.toDF("v")
        .groupBy((col("v") % 10).as("k")).agg(sum(col("v")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // exact answer despite the death: every k in 0..9 sums
      // k + (k+10) + ... + (k+990) = 100k + 49500
      assert(ResilienceSpec.injectedFailures.get() >= 1,
        "the injected failure never fired — the test proved nothing")
      assert(byKey.size == 10)
      (0L to 9L).foreach { k =>
        assert(byKey(k) == 100 * k + 49500, s"wrong sum for k=$k: ${byKey(k)}")
      }
    } finally {
      s.stop()
    }
  }
}
