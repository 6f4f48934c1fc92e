package graft

import graft.api.PageRank
import org.apache.spark.sql.functions._

/** Structural invariants of the integer fixed-point PageRank. */
class PageRankSpec extends SparkSpec {

  test("on a regular ring every node gets the identical score") {
    import spark.implicits._
    val n = 12
    val ring = (0 until n).flatMap(i =>
      Seq((i.toLong, ((i + 1) % n).toLong, 1L),
        (((i + 1) % n).toLong, i.toLong, 1L)))
      .toDF("src", "dst", "w")
    val scores = PageRank.weighted(ring, 5)
    assert(scores.select(col("score")).distinct().count() == 1)
    assert(scores.count() == n)
  }

  test("a hub out-scores leaves and total mass stays near n * Scale") {
    import spark.implicits._
    // star: hub 0 <-> leaves 1..8
    val star = (1 to 8).flatMap(i =>
      Seq((0L, i.toLong, 1L), (i.toLong, 0L, 1L))).toDF("src", "dst", "w")
    val s = PageRank.weighted(star, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to 8).forall(i => s(0L) > s(i.toLong)))
    val total = s.values.sum
    // integer floors only lose mass, never create it
    assert(total <= 9L * PageRank.Scale)
    assert(total > (9L * PageRank.Scale * 9) / 10)
  }

  test("scores are invariant under repartitioning (integer sums commute)") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L),
      (3L, 1L, 2L), (1L, 3L, 2L)).toDF("src", "dst", "w")
    val a = PageRank.weighted(edges, 4).orderBy("node").collect().toSeq
    val b = PageRank.weighted(edges.repartition(7), 4)
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("q192 LPA matches an exact driver-side 4-round sync recompute") {
    val got = Registry.byName("q192_label_propagation").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // independent reimplementation: same graph, same deterministic
    // contract (majority label, ties to min, 4 synchronous rounds,
    // isolated nodes keep their own label)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // NB: keys/filter, NOT `Map.collect { ... => pair }` — collect
    // rebuilding pairs from a Map resolves to a Map builder and
    // silently dedups by first element (lost 2324 → 188 edges here)
    val ed = li.groupBy(_._1).values
      .flatMap { grp =>
        val ps = grp.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length)
          yield (ps(i), ps(j))
      }
      .groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val adj = (ed ++ ed.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val nodes = li.map(_._2).distinct.sorted
    var lbl = nodes.map(n => n -> n).toMap
    (1 to 4).foreach { _ =>
      lbl = nodes.map { n =>
        val nb = adj.getOrElse(n, Seq())
        if (nb.isEmpty) n -> lbl(n)
        else {
          val counts = nb.map(lbl).groupBy(identity).view
            .mapValues(_.size).toSeq
          n -> counts.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = nodes.map(n => (n, lbl(n), sizes(lbl(n))))
    assert(got.toSeq == expected.toSeq)

    // structure: communities never span disconnected nodes — every
    // community's label is one of its members
    val members = got.groupBy(_._2)
    members.foreach { case (community, ms) =>
      assert(ms.exists(_._1 == community) ||
        ms.forall(m => adj.contains(m._1)),
        s"community $community label should originate from the graph")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q192 LPA separates planted cliques (non-degenerate fixture)") {
    import spark.implicits._
    // two disjoint 3-cliques, each basket repeated twice so every
    // in-clique pair clears the support >= 2 floor; LPA must converge
    // each clique to its own min-label community and never bridge them
    val rows = for {
      (oBase, parts) <- Seq((100L, Seq(1L, 2L, 3L)), (200L, Seq(10L, 11L, 12L)))
      o <- Seq(oBase, oBase + 1)
      p <- parts
    } yield (o, p)
    val dir = tempDir("graft_lpa")
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Registry.byName("q192_label_propagation").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)),
      s"got $got")
    spark.sharedState.cacheManager.clearCache()
  }

  /** The support ≥ 2 co-purchase edge set, driver-side (the q192-spec
    * recompute, shared by the q198 tests below). */
  private def copurchaseEdges(dir: String): Seq[(Long, Long)] = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    li.groupBy(_._1).values
      .flatMap { grp =>
        val ps = grp.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }
      .toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
  }

  test("q198 k-core matches a driver-side 6-round peel recompute") {
    val got = Registry.byName("q198_kcore_onion").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val e = copurchaseEdges(sfDir)
    val adj = (e ++ e.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    var alive = adj.keySet.toSet
    val peeled = scala.collection.mutable.Map.empty[Long, Long]
    for (r <- 1 to 6) {
      val drop = alive.filter(n => adj(n).count(alive) < 2)
      drop.foreach(n => peeled(n) = r.toLong)
      alive = alive -- drop
    }
    val want = adj.keySet.map(n =>
      n -> (peeled.getOrElse(n, 0L),
        if (peeled.contains(n)) 0L else 1L)).toMap
    assert(got == want)
    // and 6 rounds CONVERGED here: every survivor keeps >= 2 alive
    // neighbors, i.e. the output is the true 2-core, not a truncation
    assert(alive.forall(n => adj(n).count(alive) >= 2))
  }

  test("q198 onion fixture: pendant chain peels outside-in, clique survives") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (whole basket twice => every pair support 2)
    // + pendant chain 4-5-6: node 6 has degree 1 (peels round 1),
    // then 5 is exposed (round 2); the clique is a true 2-core
    val rows =
      (for (o <- Seq(100L, 101L); p <- Seq(1L, 2L, 3L, 4L)) yield (o, p)) ++
      (for (o <- Seq(200L, 201L); p <- Seq(4L, 5L)) yield (o, p)) ++
      (for (o <- Seq(300L, 301L); p <- Seq(5L, 6L)) yield (o, p))
    val dir = tempDir("graft_kcore")
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Registry.byName("q198_kcore_onion").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L),
      (4L, 0L, 1L), (5L, 2L, 0L), (6L, 1L, 0L)), s"got $got")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q209 link prediction matches an exact driver-side RA recompute") {
    val got = Registry.byName("q209_link_prediction").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // independent reimplementation: support>=2 co-purchase edges,
    // wedge enumeration per center, RA = sum of 1e6 div deg(center),
    // existing edges excluded, top-20 by (ra desc, cn desc, u, v)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ed = li.groupBy(_._1).values
      .flatMap { grp =>
        val ps = grp.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length)
          yield (ps(i), ps(j))
      }
      .groupBy(identity).filter(_._2.size >= 2).keys.toSet
    val adj = (ed.toSeq ++ ed.toSeq.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    val scores = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)] // pair -> (cn, ra_micro)
    adj.foreach { case (z, nbrs) =>
      val d = nbrs.size.toLong
      val contrib = 1000000L / d
      val s = nbrs.sorted
      for (i <- s.indices; j <- i + 1 until s.length) {
        val k = (s(i), s(j))
        val (cn, ra) = scores.getOrElse(k, (0L, 0L))
        scores(k) = (cn + 1, ra + contrib)
      }
    }
    val expected = scores.toSeq
      .filterNot { case (k, _) => ed.contains(k) }
      .map { case ((u, v), (cn, ra)) => (u, v, cn, ra) }
      .sortBy { case (u, v, cn, ra) => (-ra, -cn, u, v) }
      .take(20)
    assert(got.toSeq == expected, s"got=${got.toSeq}\nwant=$expected")
    // the emitted pairs really are non-edges with shared structure
    got.foreach { case (u, v, cn, ra) =>
      assert(!ed.contains((u, v)) && cn >= 1 && ra >= 1,
        s"invalid prediction ($u,$v,$cn,$ra)")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q225 personalized PageRank matches an exact driver-side 4-round recompute") {
    val got = Registry.byName("q225_personalized_pagerank").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver recompute: support>=2 weighted edges, integer fixed-point
    // with seed-only teleport, 4 rounds, top-30 by (score desc, node)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sup = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2).toMap
    val edges = sup.toSeq.flatMap { case ((u, v), c) => Seq((u, v, c), (v, u, c)) }
    val wdeg = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = wdeg.keys.toSeq.sorted
    val seeds = nodes.take(3).toSet
    var score = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 4) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst, w) =>
        in(dst) += (850L * score(src) * w) / (1000L * wdeg(src))
      }
      score = nodes.map(n =>
        n -> ((if (seeds(n)) 150000L else 0L) + in(n))).toMap
    }
    val expect = score.toSeq.sortBy { case (n, sc) => (-sc, n) }.take(30)
    assert(got.toSeq == expect, s"got=${got.toSeq.take(5)} want=${expect.take(5)}")
    // the seeds themselves dominate a seed-relative ranking
    assert(seeds.subsetOf(got.map(_._1).toSet),
      "all three seeds must rank in the top-30 of their own restart")
    spark.sharedState.cacheManager.clearCache()
  }
}
