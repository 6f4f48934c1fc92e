package graft

import org.apache.spark.sql.functions._
import graft.api.Compactor

/** Pins the small-file compactor: row preservation, file-count
  * reduction to ~totalBytes/target, crash-safe directory swap, and
  * the whole-file bin-plan invariants.
  */
class CompactorSpec extends SparkSpec {

  import spark.implicits._

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("plan packs whole files into ~target-size bins in path order") {
    val files = Seq(
      ("a", 40L), ("b", 40L), ("c", 40L), ("d", 40L), ("e", 40L))
      .toDF("path", "bytes")
    val got = Compactor.plan(files, 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // cumsum 40,80,120,160,200 → bins 0,0,0(starts at 80),1,1
    assert(got == Map("a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 1L, "e" -> 1L),
      s"got $got")
    spark.sharedState.cacheManager.clearCache()
  }

  test("compact shrinks a many-small-files table without losing a row") {
    val dir = tempDir("graft-compact") + "/t"
    spark.range(0, 10000)
      .select(col("id"), (col("id") % 97).as("k"),
        sha2(col("id").cast("string"), 256).as("payload"))
      .repartition(40)
      .write.parquet(dir)
    val before = parquetFiles(dir)
    assert(before.length >= 30, s"fixture should be many files: ${before.length}")
    val total = before.map(_.length).sum
    val checksumBefore = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(xxhash64(col("id"), col("k"), col("payload")).cast("decimal(38,0)")))
      .first()

    Compactor.compact(spark, dir, targetBytes = total / 4)

    val after = parquetFiles(dir)
    assert(after.length < before.length / 3,
      s"expected ~5 files, got ${after.length} (before ${before.length})")
    assert(!new java.io.File(
      new java.io.File(dir).getParent, "t_compact").exists(),
      "swap must not leave the temp directory behind")
    val checksumAfter = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(xxhash64(col("id"), col("k"), col("payload")).cast("decimal(38,0)")))
      .first()
    assert(checksumAfter == checksumBefore,
      s"rows changed: $checksumBefore -> $checksumAfter")
    // schema untouched: no plan/bookkeeping columns leaked
    assert(spark.read.parquet(dir).columns.toSeq == Seq("id", "k", "payload"))
  }

  test("compact is a no-op on a missing or empty directory") {
    Compactor.compact(spark, "/tmp/graft-compact-definitely-missing", 1000L)
    val empty = tempDir("graft-compact-empty")
    Compactor.compact(spark, empty, 1000L) // no parquet files inside
  }
}
