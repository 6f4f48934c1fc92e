package graft

import org.apache.spark.sql.functions._
import graft.api.{ConnectedComponents, IncrementalDedup, Sharder}
import graft.functions.TextFunctions

/** Incremental batch-vs-corpus dedup (q79 / api.IncrementalDedup) and
  * the graph/shard API edge cases the round-4 advice flagged.
  */
class IncrementalDedupSpec extends SparkSpec {

  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(c, " "), t => length(t) > 0)

  /** Brute-force batch→corpus Jaccard ≥ t pairs (batch = doc_id%10==0). */
  private def bruteCross(threshold: Double): Set[(Long, Long, Double)] = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordNgrams(toks(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.alias("a").crossJoin(sh.alias("b"))
      .filter(col("a.doc_id") % 10 === 0 && col("b.doc_id") % 10 =!= 0)
      .select(col("a.doc_id"), col("b.doc_id"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))), 4).as("j"))
      .filter(col("j") >= threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("q79 incremental probe equals brute-force batch×corpus at 0.8") {
    val got = Registry.byName("q79_incremental_dedup").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = bruteCross(0.8)
    assert(want.nonEmpty, "fixture should plant cross-batch near-dups")
    assert(got == want,
      s"missed=${want.diff(got)} false=${got.diff(want)}")
  }

  test("index survives a parquet round trip (probe results identical)") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tempDir("dedup-ix")
    IncrementalDedup.writeIndex(corpus, dir)
    val fromDisk = IncrementalDedup
      .newDupPairs(batch, IncrementalDedup.readIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val live = IncrementalDedup
      .newDupPairs(batch, IncrementalDedup.buildIndex(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk == live && fromDisk.nonEmpty)
  }

  test("index bands directory is partitioned by band (probe prunes partitions)") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val dir = tempDir("dedup-ix-p")
    IncrementalDedup.writeIndex(docs, dir)
    val sub = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(sub.nonEmpty && sub.forall(_.startsWith("band=")),
      s"expected band=N partition dirs, got ${sub.toSeq}")
  }

  test("index build and each append add one data file per touched band") {
    // no partition coalescing: every shuffle keeps 4 write tasks
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val docs = Tables.documents(spark, sfDir)
      val dir = tempDir("dedup-files")
      IncrementalDedup.writeIndex(docs.filter(col("doc_id") % 3 === 0), dir)
      var before = dataFilesPerDir(s"$dir/bands")
      assert(before.nonEmpty && before.values.forall(_ == 1),
        s"build wrote $before")
      for (r <- 1 to 2) {
        IncrementalDedup.appendIndex(docs.filter(col("doc_id") % 3 === r), dir)
        val touched = spark.read.parquet(s"$dir/bands")
          .filter(col("doc_id") % 3 === r)
          .select(col("band")).distinct().collect()
          .map(b => s"band=${b.get(0)}").toSet
        val now = dataFilesPerDir(s"$dir/bands")
        assert(touched.size > 1, s"append $r touched $touched")
        now.foreach { case (band, n) =>
          val added = n - before.getOrElse(band, 0)
          assert(added == (if (touched(band)) 1 else 0),
            s"append $r added $added files to $band")
        }
        before = now
      }
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  // ---- ConnectedComponents edge cases (round-4 advice) ----

  import spark.implicits._

  test("connected components: empty node set returns empty, no NPE") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(ConnectedComponents.label(nodes, edges).count() == 0L)
  }

  test("connected components: chain converges to min label") {
    // path 0-1-2-...-9 plus isolated 100: diameter 9 forces multiple rounds
    val nodes = ((0L to 9L) :+ 100L).toDF("id")
    val edges = (0L to 8L).map(i => (i, i + 1)).toDF("u", "v")
    val got = ConnectedComponents.label(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 9L).forall(got(_) == 0L) && got(100L) == 100L)
  }

  test("connected components: round cap throws instead of silently mislabeling") {
    val nodes = (0L to 9L).toDF("id")
    val edges = (0L to 8L).map(i => (i, i + 1)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.starContract(nodes, edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: chain longer than maxRounds labels via star fallback") {
    // diameter 120 ≫ maxRounds 5: propagation cannot converge, the
    // large-star/small-star fallback labels correctly in O(log² n)
    val nodes = ((0L to 120L) :+ 999L).toDF("id")
    val edges = (0L to 119L).map(i => (i, i + 1)).toDF("u", "v")
    val got = ConnectedComponents.label(nodes, edges, maxRounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 120L).forall(got(_) == 0L), "chain not fully labeled 0")
    assert(got(999L) == 999L)
  }

  test("starContract matches propagation labels on a multi-component graph") {
    val nodes = (0L to 20L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),          // triangle
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), // path
      (11L, 12L), (12L, 13L), (11L, 13L), (13L, 14L),
      (17L, 18L)).toDF("u", "v")
    val a = ConnectedComponents.label(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = ConnectedComponents.starContract(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b, s"star=$b propagate=$a")
  }

  test("streaming ingest dedup: batches probe the index AND extend it") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val seedText = corpus.orderBy(col("doc_id")).select(col("text"))
      .head().getString(0)
    val seedId = corpus.orderBy(col("doc_id")).select(col("doc_id"))
      .head().getLong(0)
    val dir = tempDir("dedup-stream-ix")
    IncrementalDedup.writeIndex(corpus, dir)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = graft.streaming.StreamingOps.ingestDedupStream(
      input.toDF().toDF("doc_id", "text"), dir) { (pairs, _) =>
      got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }.start()
    try {
      // batch 1: an exact copy of a corpus doc → must hit the index
      input.addData((10000L, seedText))
      q.processAllAvailable()
      assert(got.contains((10000L, seedId)),
        s"batch-1 doc should match corpus doc $seedId: $got")
      // batch 2: a copy of the BATCH-1 doc → must hit the appended
      // index entry, proving the index grew between batches
      input.addData((20000L, seedText))
      q.processAllAvailable()
      assert(got.contains((20000L, 10000L)),
        s"batch-2 doc should match the batch-1 doc via the appended index: $got")
    } finally q.stop()

    // at-least-once replay: a fresh query on the SAME index dir replays
    // batch ids 0 and 1 — the per-batch markers must suppress the
    // re-append (index size unchanged), the probe must still deliver
    // pairs, and no doc may be reported as a duplicate of itself even
    // though the replayed batch is already in the index
    val sizeBefore = spark.read.parquet(s"$dir/bands").count()
    val replay = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got2 = scala.collection.mutable.Set.empty[(Long, Long)]
    val q2 = graft.streaming.StreamingOps.ingestDedupStream(
      replay.toDF().toDF("doc_id", "text"), dir) { (pairs, _) =>
      got2 ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }.start()
    try {
      replay.addData((10000L, seedText))
      q2.processAllAvailable()
      replay.addData((20000L, seedText))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$dir/bands").count() == sizeBefore,
      "replayed batches must not re-append to the index")
    assert(got2.contains((10000L, seedId)), "replay must still deliver pairs")
    assert(!got2.exists(p => p._1 == p._2),
      s"replay reported a doc as its own duplicate: $got2")
  }

  // ---- Sharder guard (round-4 advice) ----

  test("withShard refuses an input that already has a shard column") {
    val df = Seq((1L, 0L)).toDF("k", "shard")
    val e = intercept[IllegalArgumentException] {
      Sharder.withShard(df, "k", 4)
    }
    assert(e.getMessage.contains("shard"))
  }
}
