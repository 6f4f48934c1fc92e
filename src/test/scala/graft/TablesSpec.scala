package graft

import java.nio.file.Files

/** The `Tables` relation memo (one entry per path, replaced when the
  * files under it change) and the file fingerprint that keys it.
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  test("a rewritten table is read fresh in the same session; an unchanged one is reused") {
    val dir = Files.createTempDirectory("tables-spec").toString
    Seq(1L, 2L).toDF("x").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(first.count() == 2)
    assert(Tables.load(spark, dir, "t") eq first,
      "unchanged files must reuse the memoized relation")
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.count() == 3, "a rewritten table must be read fresh")
    assert(Tables.load(spark, dir, "t") eq second,
      "the fresh relation must replace the stale one in the memo")
  }

  test("a symlink cycle under a table directory is not descended") {
    val dir = Files.createTempDirectory("tables-spec")
    Seq(1L).toDF("x").write.parquet(s"$dir/t.parquet")
    val table = dir.resolve("t.parquet")
    // two links back to the table: descending them would walk 2^depth
    // paths; the leading `_` keeps Spark's own listing off them
    Files.createSymbolicLink(table.resolve("_loop_a"), table)
    Files.createSymbolicLink(table.resolve("_loop_b"), table)
    val fp = Tables.fingerprint(table.toString)
    assert(fp.isDefined)
    assert(Tables.fingerprint(table.toString) == fp, "fingerprint must be stable")
    assert(Tables.load(spark, dir.toString, "t").count() == 1)
  }
}
