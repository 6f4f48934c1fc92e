package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.api.AnnIndex
import graft.plans.GraftFunctions

/** Pins the durable IVF index: cell-partitioned layout, partition
  * pruning on probe, recall vs brute force, exact rerank, and the
  * append-then-search contract.
  */
class AnnIndexSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir = {
    val d = tempDir("ann-index")
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(t, d, k = 16, iters = 4)
    d
  }

  private def queriesDF = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") >= 20 && col("vec_id") < 30)
    .select(col("vec_id").as("q_id"), col("embedding").as("qe"))

  test("index layout: one directory per cell, centroids bounded by k") {
    val cells = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("c_id=")).map(_.getName).toSet
    assert(cells.nonEmpty && cells.size <= 16, s"bad cell layout: $cells")
    assert(spark.read.parquet(s"$dir/centroids").count() == 16)
    // every corpus vector landed in exactly one cell
    val n = Tables.embeddings(spark, sfDir).count()
    assert(spark.read.parquet(s"$dir/cells").count() == n)
  }

  test("probe scan prunes to the probed cell directories") {
    val probed = Seq(3, 7)
    val scan = spark.read.parquet(s"$dir/cells")
      .filter(col("c_id").isin(probed: _*))
    scan.collect() // force planning + partition listing
    val fs = scan.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    assert(fs.nonEmpty, "no file scan found")
    val nParts = fs.map(_.selectedPartitions.partitionCount).sum
    val existing = new java.io.File(s"$dir/cells").listFiles()
      .count(f => probed.exists(p => f.getName == s"c_id=$p"))
    assert(nParts == existing,
      s"scan read $nParts partitions, expected the $existing probed dirs")
  }

  test("search attains recall@10 >= 0.7 vs brute force and reranks exactly") {
    GraftFunctions.register(spark)
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val got = AnnIndex.search(spark, dir, queriesDF, nprobe = 7, topk = 10)
    val gotSets = got.select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute-force top-10 per query
    val brute = queriesDF.crossJoin(t)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cs", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .groupBy(col("q_id"))
      .agg(GraftFunctions.topkByScore(col("cs"), col("vec_id"), 10).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, want) =>
      gotSets.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, f"mean recall@10 $mean%.2f")
    // exact rerank: every emitted cos_sim equals the direct computation
    val bad = got
      .join(t.select(col("vec_id").as("q_id"), col("embedding").as("qe2")), "q_id")
      .join(t.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .filter(abs(col("cos_sim") -
        round(GraftFunctions.cosineSim(col("qe2"), col("ne")), 6)) > 1e-9)
      .count()
    assert(bad == 0, s"$bad reranked scores diverge from direct cosine")
  }

  test("search at q39's config returns exactly q39_ann_ivf's rows") {
    val d = tempDir("ann-q39")
    AnnIndex.build(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), d, k = 16, iters = 6)
    val got = AnnIndex.search(spark, d, queriesDF, nprobe = 7, topk = 10)
      .collect().toSeq
    val want = Registry.byName("q39_ann_ivf").fn(spark, sfDir).collect().toSeq
    assert(want.size == 100, s"q39 emitted ${want.size} rows")
    assert(got == want, s"index-only ${got.diff(want).take(5)}, " +
      s"q39-only ${want.diff(got).take(5)}")
  }

  test("build and each append add one data file per touched cell") {
    // no partition coalescing: every shuffle keeps 4 write tasks
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val d = tempDir("ann-files")
      val t = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      AnnIndex.build(t, d, k = 16, iters = 4)
      var before = dataFilesPerDir(s"$d/cells")
      assert(before.nonEmpty && before.values.forall(_ == 1),
        s"build wrote $before")
      for (round <- 1 to 2) {
        val batch = t.select((col("vec_id") + 100000L * round).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.000001f)).as("embedding"))
        AnnIndex.append(spark, d, batch)
        val touched = spark.read.parquet(s"$d/cells")
          .filter(col("vec_id") >= 100000L * round &&
            col("vec_id") < 100000L * (round + 1))
          .select(col("c_id")).distinct().as[Int].collect()
          .map(c => s"c_id=$c").toSet
        val now = dataFilesPerDir(s"$d/cells")
        assert(touched.size > 1, s"append $round touched $touched")
        now.foreach { case (cell, n) =>
          val added = n - before.getOrElse(cell, 0)
          assert(added == (if (touched(cell)) 1 else 0),
            s"append $round added $added files to $cell")
        }
        before = now
      }
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  test("delete-then-search never returns tombstoned ids; compact preserves results") {
    val d = tempDir("ann-delete")
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(t, d, k = 16, iters = 4)
    val before = AnnIndex.search(spark, d, queriesDF, nprobe = 7, topk = 10)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    // tombstone every query's current top neighbors (the hardest case:
    // the deleted ids are exactly the ones search wants to return)
    val doomed = before.map(_._2).distinct.take(8)
    AnnIndex.delete(d, doomed.toSeq.toDF("vec_id"))
    val after = AnnIndex.search(spark, d, queriesDF, nprobe = 7, topk = 10)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    assert(after.nonEmpty)
    assert(!after.exists(p => doomed.contains(p._2)),
      "a tombstoned id surfaced in search results")
    // recall on SURVIVORS unchanged: every surviving pre-delete hit is
    // still returned (deletion only removes, never displaces survivors
    // from a top-k that now has more room)
    val afterSet = after.toSet
    val missing = before.filterNot(p => doomed.contains(p._2))
      .filterNot(afterSet.contains)
    assert(missing.isEmpty, s"survivors lost after delete: ${missing.take(5).toSeq}")
    // compact physically removes the rows and clears the tombstones;
    // search results are identical before and after the rewrite
    AnnIndex.compact(spark, d)
    assert(!new java.io.File(s"$d/tombstones").exists(),
      "compact must clear the tombstone set")
    val doomedSet = doomed.toSet
    val nLive = spark.read.parquet(s"$d/cells")
      .filter(col("vec_id").isin(doomedSet.toSeq: _*)).count()
    assert(nLive == 0, "compact left tombstoned rows in the cells")
    val compacted = AnnIndex.search(spark, d, queriesDF, nprobe = 7, topk = 10)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    assert(compacted.sorted.toSeq == after.sorted.toSeq,
      "compact changed search results")
  }

  test("append-then-search finds vectors added after the build") {
    val d = tempDir("ann-append")
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(t, d, k = 16, iters = 4)
    // append near-identical copies of the query vectors under new ids
    val batch = queriesDF
      .select((col("q_id") + 100000L).as("vec_id"),
        transform(col("qe"), x => x * lit(1.000001f)).as("embedding"))
    AnnIndex.append(spark, d, batch)
    val got = AnnIndex.search(spark, d, queriesDF, nprobe = 3, topk = 1)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toMap
    queriesDF.select(col("q_id")).as[Long].collect().foreach { q =>
      assert(got.get(q).contains(q + 100000L),
        s"appended twin of $q not found (got ${got.get(q)})")
    }
  }
}
