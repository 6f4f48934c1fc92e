package graft

import graft.api.{ConnectedComponents, Supersteps}
import org.apache.spark.sql.functions._

/** The shared superstep loop: one checkpoint job per round that also
  * reads the round's progress, and the graph operators that run on it.
  */
class SuperstepsSpec extends SparkSpec {
  import spark.implicits._

  test("a round is one job; the loop reports not converged at maxRounds") {
    val init = spark.range(5).toDF("id")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = org.apache.logging.log4j.LogManager.getLogger("graft.api.Supersteps")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "superstep-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(org.apache.logging.log4j.Level.INFO)
    var out: Supersteps.Outcome = null
    val jobs = try jobsDuring {
      out = Supersteps.run("shift", init, 3) { (st, _) =>
        (st.select((col("id") + 1).as("id")), lit(true))
      }
    } finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
    }
    assert(!out.converged)
    assert(out.state.as[Long].collect().sorted.toSeq == (3L to 7L))
    assert(jobs == 3L, s"3 narrow rounds ran $jobs jobs")
    import scala.jdk.CollectionConverters._
    assert(lines.asScala.toSeq == (1 to 3).map(r => s"shift round=$r rows=5 progress=5"))
  }

  test("the loop stops on the first round that moves nothing") {
    val out = Supersteps.run("still", spark.range(4).toDF("id"), 10) { (st, _) =>
      (st, lit(false))
    }
    assert(out.converged)
    assert(out.state.count() == 4L)
  }

  /** The name of each Dataset action (`count`, `localCheckpoint`, ...)
    * that ran while `body` did, in finish order.
    */
  private def actionsDuring(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        names.add(funcName)
    }
    spark.listenerManager.register(l)
    try {
      assert(jobsDuring(body) > 0L)
      var last = -1
      var spins = 0
      while (last != names.size && spins < 20) {
        last = names.size; Thread.sleep(150); spins += 1
      }
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    names.asScala.toSeq
  }

  test("the 10-node CC chain runs no per-round checksum action") {
    // path 0-1-...-9: 9 lowering rounds plus the one that lowers nothing
    val nodes = (0L to 9L).toDF("id")
    val edges = (0L to 8L).map(i => (i, i + 1)).toDF("u", "v")
    var labeled: org.apache.spark.sql.DataFrame = null
    val actions = actionsDuring {
      labeled = ConnectedComponents.label(nodes, edges)
    }
    // the edge and label set-up, then one checkpoint per round
    assert(actions == Seq.fill(12)("localCheckpoint"), s"actions: $actions")
    assert(labeled.select(col("component")).as[Long].collect().toSet == Set(0L))
  }

  /** Runs q198 on basket rows (order, part), every basket twice so each
    * in-basket pair reaches support 2; returns the rows and the jobs.
    */
  private def kcore(prefix: String, baskets: Seq[Seq[Long]]): (Seq[(Long, Long, Long)], Long) = {
    val rows = for {
      (parts, i) <- baskets.zipWithIndex
      o <- Seq(2L * i, 2L * i + 1)
      p <- parts
    } yield (o, p)
    val dir = tempDir(prefix)
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    var got: Seq[(Long, Long, Long)] = Nil
    val jobs = jobsDuring {
      got = Registry.byName("q198_kcore_onion").fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    spark.sharedState.cacheManager.clearCache()
    (got, jobs)
  }

  test("q198 stops once a round peels nothing, in fewer jobs than 6 rounds") {
    val clique = Seq(Seq(1L, 2L, 3L, 4L))
    // pendant chain 4-5-6: 6 peels in round 1, 5 in round 2, round 3
    // peels nothing
    val (onion, onionJobs) = kcore("graft_kcore_onion",
      clique ++ Seq(Seq(4L, 5L), Seq(5L, 6L)))
    assert(onion == Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L),
      (4L, 0L, 1L), (5L, 2L, 0L), (6L, 1L, 0L)), s"got $onion")
    // pendant chain 4-5-...-11 peels one node a round for all 6 rounds;
    // node 5 is never reached and stays in the core, as in the oracle
    val (chain, chainJobs) = kcore("graft_kcore_chain",
      clique ++ (4L to 10L).map(i => Seq(i, i + 1)))
    assert(chain == (1L to 5L).map(n => (n, 0L, 1L)) ++
      (6L to 11L).map(n => (n, 12L - n, 0L)), s"got $chain")
    assert(onionJobs < chainJobs,
      s"3 rounds ran $onionJobs jobs, 6 rounds $chainJobs")
  }

  test("q131 matches its closed form on a hierarchy deeper than 256") {
    // three chains of depth 300: 9 doubling rounds
    val keys = for (r <- Seq(0L, 7L, 99L); k <- 0L to 300L) yield r + 100L * k
    val dir = tempDir("graft_q131_deep")
    keys.toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    val rows = Registry.byName("q131_hierarchy_flatten").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == keys.sorted.map(p => (p, p % 100, p / 100)))
  }
}
