package graft.tools

import scala.util.control.NonFatal

/** Dev utility: time one (or more) registered queries in isolation
  * with the exact Bench session config — for chasing per-query
  * regressions without paying the full 79-query run.
  *
  * Usage: sbt "runMain graft.tools.TimeQuery q34_minhash_lsh[,q60_...] [sfDir] [runs]"
  */
object TimeQuery {
  /** Bounded poll until every recorded job has its end timestamp (the
    * listener bus delivers asynchronously; `listenerBus.waitUntilEmpty`
    * is private[spark], so poll the visible effect instead). */
  private def awaitJobEnds(
      jobLog: java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)],
      enabled: Boolean): Unit = {
    if (!enabled) return
    val deadline = System.nanoTime() + 2_000_000_000L
    import scala.jdk.CollectionConverters._
    while (jobLog.asScala.exists(_._2._2 == 0L) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q34_minhash_lsh").split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // one INFO line per superstep round (operator, round, rows, progress)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.api.Supersteps", org.apache.logging.log4j.Level.INFO)
    // SPARK_GRAFT_CONF="k=v;k=v" sets session confs before timing —
    // e.g. the LSH banding overrides (spark.graft.lsh.*) for
    // scale-ladder runs
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    graft.Tables.all.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case NonFatal(_) => () }
    }
    // SPARK_GRAFT_JOBS=1: per-Spark-job wall times for the LAST run of
    // each query — where a multi-stage query's seconds actually go
    val traceJobs = sys.env.get("SPARK_GRAFT_JOBS").contains("1")
    val jobLog =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)]()
    if (traceJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobLog.put(j.jobId, (j.time, 0L, j.stageInfos.map(_.numTasks).sum))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobLog.computeIfPresent(j.jobId, (_, v) => (v._1, j.time, v._3))
      })
    names.foreach { name =>
      val fn = graft.Registry.byName(name).fn
      val times = (1 to runs).map { i =>
        if (i == runs) {
          // the listener bus is async: let the previous run's JobEnd
          // events land before clearing, or they'd resurrect stale ids
          awaitJobEnds(jobLog, traceJobs)
          jobLog.clear()
        }
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        spark.sharedState.cacheManager.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name%s rows=$n%d  $dt%.3f s")
        dt
      }
      if (traceJobs) {
        import scala.jdk.CollectionConverters._
        // drain the async bus before reading: a JobEnd still in flight
        // leaves end=0 and would print a huge negative duration and
        // corrupt the span/busy/gaps summary
        awaitJobEnds(jobLog, traceJobs)
        val (done, pending) =
          jobLog.asScala.toSeq.sortBy(_._1).partition(_._2._2 > 0)
        done.foreach { case (id, (st, en, tasks)) =>
          println(f"[job] $name%s job=$id%-3d ${(en - st) / 1e3}%6.2f s tasks=$tasks%d")
        }
        pending.foreach { case (id, _) =>
          println(s"[job] $name job=$id END NOT DELIVERED (excluded from summary)")
        }
        if (done.nonEmpty) {
          val spanMs = done.map(_._2._2).max - done.map(_._2._1).min
          val busyMs = done.map { case (_, (st, en, _)) => en - st }.sum
          println(f"[job] $name%s span=${spanMs / 1e3}%.2f s busy=${busyMs / 1e3}%.2f s gaps=${(spanMs - busyMs) / 1e3}%.2f s")
        }
      }
      println(f"[time] $name%s median=${times.sorted.apply(runs / 2)}%.3f s")
    }
    spark.stop()
  }
}
