package graft.tools

/** Dev utility: print the formatted physical plan of one registered
  * query (or all, with "all") — the `.explain("formatted")` loop the
  * build process runs after each operator lands.
  *
  * Usage: sbt "runMain graft.tools.Explain q08_star_schema [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q08_star_schema")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.create("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val targets =
      if (name == "all") graft.Registry.queries.map(_.name)
      else name.split(",").toSeq
    targets.foreach { n =>
      println(s"\n===== $n =====")
      graft.Registry.byName(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
