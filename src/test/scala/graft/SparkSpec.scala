package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`
  * fork; getOrCreate dedups across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.create("local[4]",
    Some("target/spark-warehouse"))

  val sfDir = "/root/testdata/sf0.001"

  /** This suite's temporary root, made on first use; `afterAll`
    * deletes it with everything under it.
    */
  private var tempRoot: Option[java.nio.file.Path] = None

  /** A fresh directory under this suite's temporary root. */
  protected def tempDir(prefix: String): String = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(
        s"graft-${getClass.getSimpleName}-")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  /** Data files (no `.crc`, no `_SUCCESS`) per partition directory
    * (`c_id=3`, `band=0`, ...) under `root`.
    */
  protected def dataFilesPerDir(root: String): Map[String, Int] =
    new java.io.File(root).listFiles().filter(_.isDirectory).map { p =>
      p.getName -> p.listFiles().count(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }.toMap

  /** Spark jobs started while `body` runs. */
  protected def jobsDuring(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener delivery is async: wait until the count quiesces.
      var last = -1L
      var spins = 0
      while (last != n.get() && spins < 20) {
        last = n.get(); Thread.sleep(150); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns on EVERY unpartitioned window; all of ours run
    // on metadata-sized relations — proven structurally by PlanSpec's
    // suite-wide "DATA-sized unpartitioned window" gate — so the
    // per-operator warning is pure noise that buries real signals in
    // the test log (100+ lines per run).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    // release query-scoped persisted inputs (dedup shingle postings)
    // between suites — the session is shared across all of them
    spark.sharedState.cacheManager.clearCache()
    synchronized {
      tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteDirectory(r.toFile))
      tempRoot = None
    }
    super.afterAll()
  }
}
