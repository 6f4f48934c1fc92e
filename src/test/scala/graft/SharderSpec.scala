package graft

import org.apache.spark.sql.functions._
import graft.api.Sharder

/** Pins the training-shard writer contract: deterministic assignment,
  * one file per shard, row conservation, self-describing partition
  * layout with pruning on read.
  */
class SharderSpec extends SparkSpec {

  private val nShards = 16

  test("sharder writes one file per shard, conserves rows, prunes on read") {
    val dir = tempDir("graft_shards")
    val docs = Tables.documents(spark, sfDir)
    Sharder.write(docs, "doc_id", nShards, dir)

    // layout: shard=N directories, exactly one parquet file in each
    val root = new java.io.File(dir)
    val shardDirs = root.listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == nShards, s"expected $nShards shard dirs")
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName} should hold exactly one file")
    }

    // row conservation + deterministic assignment
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.select(col("doc_id")).distinct().count() == docs.count())
    val misassigned = back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(nShards.toLong))).count()
    assert(misassigned == 0, "every row must sit in its hash shard")

    // hash layout is usably balanced (loose gate: no empty shard, no
    // shard above 3x the mean — tight bounds would be flaky at sf0.001)
    // partition-dir columns read back as int (directory-name
    // inference), so normalize to long before collecting
    val bySizes = back.groupBy(col("shard").cast("long").as("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = bySizes.values.toSeq
    assert(sizes.length == nShards && sizes.min > 0)
    assert(sizes.max <= 3 * (sizes.sum / nShards.toDouble),
      s"skewed shard layout: $bySizes")

    // a trainer reading one shard prunes to one directory
    val one = back.filter(col("shard") === 3)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard"),
      s"shard read should partition-prune:\n$scan")
    assert(one.count() == bySizes(3L))
  }

  test("q214 snake sharding matches a driver recompute and balances token mass") {
    val got = Registry.byName("q214_shard_balance").fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").count(_.nonEmpty).toLong))
    // driver recompute: rank by (tokens desc, doc_id), snake over 8
    val ranked = docs.sortBy { case (id, n) => (-n, id) }
    val assign = ranked.zipWithIndex.map { case ((id, n), i) =>
      val k = i % 16
      (if (k < 8) k.toLong else 15L - k, n)
    }
    val grand = docs.map(_._2).sum
    val expect = assign.groupBy(_._1).map { case (s, xs) =>
      val tot = xs.map(_._2).sum
      val share = 10000L * tot / grand
      s -> ((xs.length.toLong, tot, share, share - 1250L))
    }
    assert(got == expect)
    // conservation + the balance contract the snake exists for
    assert(got.values.map(_._2).sum == grand)
    assert(got.values.map(_._1).sum == docs.length.toLong)
    got.foreach { case (s, (_, _, _, dev)) =>
      assert(math.abs(dev) <= 50L, s"shard $s deviates $dev bp — snake broken")
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
