package graft.tools

/** One-session driver for the differential fuzz harness: for each
  * [[FuzzData]] variant, generate the mutated corpus and dump every
  * registered query + its oracle SQL through `graft.Verify.run` —
  * leaving `<work>/<variant>/{data,out}` ready for
  * `tools/check_oracle.py` (which `tools/run_fuzz.py` orchestrates
  * into the committed FUZZ artifact).
  *
  * Usage: runMain graft.tools.FuzzRun <srcSfDir> <workDir> [seed]
  */
object FuzzRun {
  def main(args: Array[String]): Unit = {
    val (src, work) = (args(0), args(1))
    val seed = args.lift(2).map(_.toLong).getOrElse(14L)
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    FuzzData.Variants.foreach { v =>
      val data = s"$work/$v/data"
      FuzzData.generate(spark, src, data, v, seed)
      println(s"[fuzz:$v] running all queries")
      graft.Verify.run(spark, data, s"$work/$v/out")
      println(s"[fuzz:$v] done")
    }
    spark.stop()
  }
}
