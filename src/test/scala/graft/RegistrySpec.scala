package graft

import java.nio.file.{Files, Paths}

/** Every registered query must run on the smoke scale factor, produce
  * rows, have unique well-formed names, and keep the driver contract
  * (oracle keys ⊆ query keys). The registry runs once, through the
  * driver's own `Verify.run` dump, and the per-query checks read that
  * dump.
  */
class RegistrySpec extends SparkSpec {

  /** One `Verify.run` dump of every query on sf0.001, and the message
    * of each query that failed.
    */
  private lazy val (dump, failed) = {
    val out = tempDir("verify-contract")
    (out, Verify.run(spark, sfDir, out))
  }

  test("query names are unique and kebab/snake-case") {
    val names = Registry.queries.map(_.name)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(n.matches("[a-z0-9_]+"), s"bad name $n"))
  }

  test("oracleSql keys are a subset of queries keys") {
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // End-to-end guard for the driver contract: `Verify.main` must write
  // one parquet dir per registered query plus a parseable
  // oracle_sql.json whose keys are exactly the oracled queries —
  // breaking any of this silently zeroes a round's correctness gate.
  test("Verify.main dumps every query and well-formed oracle json") {
    val out = dump
    // every query dumped
    SparkEntry.queries.keys.foreach { name =>
      assert(Files.exists(Paths.get(out, name)), s"missing dump for $name")
      val files = Files.list(Paths.get(out, name)).toArray.map(_.toString)
      assert(files.exists(_.endsWith(".parquet")), s"no parquet for $name")
    }
    // oracle json parses and matches the registry exactly
    val json = Files.readString(Paths.get(out, "oracle_sql.json"))
    val keyPattern = "\"(q[0-9a-z_]+|wordcount|quartile)\":".r
    val keys = keyPattern.findAllMatchIn(json).map(_.group(1)).toSet
    assert(keys == SparkEntry.oracleSql.keySet,
      s"oracle json keys drift: ${keys.diff(SparkEntry.oracleSql.keySet)} / " +
        s"${SparkEntry.oracleSql.keySet.diff(keys)}")
    // every oracle string survived JSON escaping (no raw control chars)
    assert(!json.exists(c => c < ' ' && c != '\n'), "unescaped control char")
  }

  Registry.queries.foreach { q =>
    test(s"${q.name} runs and returns rows on sf0.001") {
      assert(!failed.contains(q.name), s"${q.name} failed: ${failed.get(q.name)}")
      val df = spark.read.parquet(s"$dump/${q.name}")
      // q07_anti_join legitimately returns 0 rows at tiny scale: every
      // customer may have orders. Only require successful execution
      // plus schema sanity there.
      if (q.name == "q07_anti_join") assert(df.count() >= 0)
      else assert(df.count() > 0, s"${q.name} returned no rows")
      assert(df.columns.nonEmpty)
    }
  }
}
