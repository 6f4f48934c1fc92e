package graft

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.lit

import graft.api.MapReduce

/** The generic typed map/reduce contract (graft.api.MapReduce) — the
  * reference framework's user API — must reproduce the reference job
  * and obey the combiner algebra on arbitrary lambdas.
  */
class MapReduceApiSpec extends SparkSpec {

  test("wordCount over a text-file dir equals the registered wordcount query") {
    import spark.implicits._
    val dir = tempDir("mr-api")
    Tables.documents(spark, sfDir).select($"doc_id", $"text").collect()
      .foreach { r =>
        Files.writeString(
          java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.txt"), r.getString(1))
      }
    val api = MapReduce.wordCount(spark, dir)
      .toDF("word", "cnt").orderBy($"word")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val query = Registry.byName("wordcount").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(api.toSeq == query.toSeq)
  }

  test("wordcount folds İ 1:1 (towlower/utf8proc)") {
    import spark.implicits._
    val tmp = tempDir("fold")
    Tables.documents(spark, sfDir).limit(1)
      .withColumn("text", lit("İstanbul Merhaba"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def words(): Set[String] =
      Registry.byName("wordcount").fn(spark, tmp)
        .collect().map(_.getString(0)).toSet
    // simple fold: İ→i (one codepoint), the token survives intact —
    // the reference's towlower and DuckDB's utf8proc behavior, so the
    // output oracle-matches everywhere
    val simple = words()
    assert(simple == Set("istanbul", "merhaba"), s"simple fold: $simple")
  }

  test("generic run() supports arbitrary key/value types and reduce fns") {
    import spark.implicits._
    val input = Seq(("f1", "3 1 4 1 5"), ("f2", "9 2 6 5 3")).toDS()
    // map: parse ints, key by parity; reduce: max
    val out = MapReduce.run(input) { (_, line) =>
      line.split(" ").iterator.map(_.toInt).map(n => (n % 2 == 0, n))
    }(math.max)(Encoders.scalaBoolean, Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaInt))
      .collect().toMap
    assert(out == Map(false -> 9, true -> 6))
  }

  test("runSorted delivers each key's values fully sorted, across partitions") {
    import spark.implicits._
    // values scattered over many input partitions and inserted in
    // reverse order — the sorted-run contract must still hold
    val input = spark.range(0, 1000).repartition(13)
      .select(($"id" % 7).as("k"), (lit(1000) - $"id").as("v"))
      .as[(Long, Long)]
    val runs = MapReduce.runSorted(input) { (k, vs) =>
      val seq = vs.toSeq
      (k, seq == seq.sorted, seq.size)
    }.collect().toSeq
    assert(runs.size == 7, s"one output row per key: $runs")
    assert(runs.forall(_._2), s"unsorted run detected: $runs")
    assert(runs.map(_._3).sum == 1000)
  }

  test("runSorted tolerates reducers that only partially consume a run") {
    import spark.implicits._
    val input = spark.range(0, 100)
      .select(($"id" % 5).as("k"), $"id".as("v")).as[(Long, Long)]
    // reducer takes just the first (minimum) value and abandons the
    // iterator — the framework must drain to the next key unharmed
    val out = MapReduce.runSorted(input) { (k, vs) => (k, vs.next()) }
      .collect().toMap
    assert(out == (0L until 5L).map(k => k -> k).toMap, s"got $out")
  }

  test("runSorted groups Array[Byte] and NaN keys by VALUE, not reference") {
    import spark.implicits._
    // Array keys decode to fresh JVM arrays per row: universal == is
    // reference identity and would split every run into singletons
    val bytes = Seq(
      (Array[Byte](1, 2), 10L), (Array[Byte](1, 2), 20L),
      (Array[Byte](3), 30L)).toDS()
    val byteRuns = MapReduce.runSorted(bytes) { (k, vs) =>
      (k.toSeq.mkString("-"), vs.size.toLong)
    }.collect().toMap
    assert(byteRuns == Map("1-2" -> 2L, "3" -> 1L), s"got $byteRuns")
    // NaN != NaN under ==, but the sort orders all NaNs adjacent as
    // one key — the run must match that grouping
    val nans = Seq((Double.NaN, 1L), (Double.NaN, 2L), (1.5, 3L)).toDS()
    val nanRuns = MapReduce.runSorted(nans) { (k, vs) => (k.toString, vs.size.toLong) }
      .collect().toMap
    assert(nanRuns == Map("NaN" -> 2L, "1.5" -> 1L), s"got $nanRuns")
  }
}
