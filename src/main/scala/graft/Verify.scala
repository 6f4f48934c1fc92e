package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dev-only
    // single-query iteration; the driver always calls with two args
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // metadata-sized unpartitioned windows are structurally gated in
    // PlanSpec; the per-operator WindowExec WARN is noise here
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump itself, session-agnostic (tests drive it with the shared
    * session; `main` owns session lifecycle). Returns the message of
    * each query that failed, by name; a query whose cached relations
    * are still cached 10 s after its write counts as failed.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = Map.newBuilder[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // a query must release what it cached once its action is done
        // (`Reuse.query`); the release is asynchronous, so poll
        if (!cacheReleased(spark, 10000)) {
          System.err.println(s"[verify] $name failed: $Leaked")
          failed += name -> Leaked
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage)
      }
      // one shared session runs every query: drop what a failed or
      // leaking query left cached, so the next query starts empty
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.result()
  }

  private val Leaked = "left cached relations after its action"

  private def cacheReleased(spark: SparkSession, maxMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + maxMs
    while (!spark.sharedState.cacheManager.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.sharedState.cacheManager.isEmpty
  }
}
