package graft.tools

import org.apache.spark.sql.functions._

import graft.api.MemoCatalog

/** Cross-PROCESS memo-catalog race driver (round-17 verdict task 7).
  * `MemoCatalogSpec`'s in-JVM thread race cannot exercise the
  * production contention mode — two separate SparkSessions in two
  * separate JVMs racing the manifest swap of one shared memo dir —
  * because the losing window is filesystem-level (atomic rename vs
  * concurrent open), not JVM-level. This main is one racer process:
  * the spec forks two of them against one memo root and asserts both
  * exit 0 with every read returning the caller's own build content.
  *
  * Schedule: `phases` content generations × `reads` readThrough calls
  * each. Both racers run the SAME schedule, so aligned phases share a
  * fingerprint (cross-process warm reuse — the second process must
  * read the first's swap cleanly), while phase-boundary drift makes
  * the two processes carry DIFFERENT fingerprints simultaneously
  * (alternating rebuild/swap churn — the manifest swap race and the
  * deferred-GC window under last-writer-wins). The readThrough
  * contract under any interleaving: the returned relation is built
  * from the CALLER's own declared input (a racer never serves the
  * other fingerprint's data), every manifest read is complete (torn
  * or missing ⇒ at worst a redundant rebuild, still correct content),
  * and GC never deletes a dir between a racer's swap and its
  * immediately-following read.
  *
  * stdout protocol (parsed by the spec): one `[racer] ok phase=<p>
  * read=<r>` line per verified call, `[racer] BAD ...` on a content
  * mismatch, and a final `[racer] done builds=<n> calls=<n>`.
  */
object MemoRacer {

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val name = args(1)
    // args(2) is the racer's tag: it only names the process to its caller
    val phases = args(3).toInt
    val reads = args(4).toInt
    val spark = graft.GraftSession.create("local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(MemoCatalog.DirConf, root)
    import spark.implicits._
    var builds = 0
    var bad = 0
    (0 until phases).foreach { p =>
      val rows = Seq.tabulate(20)(i => (i.toLong, s"phase$p-row$i"))
      val df = rows.toDF("id", "txt")
      val want = rows.map { case (i, t) => (i, t.toUpperCase) }
      (0 until reads).foreach { r =>
        val got = MemoCatalog.readThrough(spark, name, Seq(df)) {
          builds += 1
          df.select(col("id"), upper(col("txt")).as("txt"))
        }.collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq
        if (got == want) println(s"[racer] ok phase=$p read=$r")
        else {
          bad += 1
          println(s"[racer] BAD phase=$p read=$r got=${got.take(3).mkString(",")}")
        }
      }
    }
    println(s"[racer] done builds=$builds calls=${phases * reads}")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
