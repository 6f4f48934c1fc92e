package graft

import org.apache.spark.sql.functions._

/** Semantics of the diversified / compressed vector-search operators:
  * q200 MMR greedy selection and q202 product-quantization ADC, each
  * pinned by an exact driver-side recompute of the full pipeline on
  * the sf0.001 corpus (int8 quantization → the operators' arithmetic
  * is integer-exact, so recompute equality is EXACT, not tolerance).
  */
class VectorSearchSpec extends SparkSpec {

  /** The q76/q200/q202 max-abs int8 quantizer, driver-side. */
  private def quantized(dir: String): Map[Long, Array[Double]] =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
        val m = v.map(math.abs).max
        r.getLong(0) -> v.map(x => math.floor(x * (127.0 / m) + 0.5))
      }.toMap

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def cos(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** Driver-side q200: per query (vec_id < 5) the cosine top-20
    * candidates, then min(5, |cand|) greedy MMR steps, ties to n_id.
    */
  private def mmrRecompute(dir: String): Seq[(Long, Long, Long, Double)] = {
    val qv = quantized(dir)
    (0L until 5L).filter(qv.contains).flatMap { q =>
      val cand = qv.keys.filter(_ != q).toSeq
        .map(n => n -> cos(qv(q), qv(n)))
        .sortBy { case (n, c) => (-c, n) }.take(20)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      for (step <- 1 to math.min(5, cand.size)) {
        val rem = cand.filterNot(c => sel.exists(_._1 == c._1))
        val pick = rem.map { case (n, cq) =>
          val pen =
            if (sel.isEmpty) 0.0
            else 0.3 * sel.map(s => cos(qv(n), qv(s._1))).max
          (n, 0.7 * cq - pen)
        }.minBy { case (n, sc) => (-sc, n) }
        sel += pick
      }
      sel.zipWithIndex.map { case ((n, sc), i) => (q, (i + 1).toLong, n, sc) }
    }
  }

  private def mmrRows(dir: String): Seq[(Long, Long, Long, Double)] =
    Registry.byName("q200_mmr_diversified").fn(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("q200 MMR matches a driver-side greedy recompute") {
    val got = Registry.byName("q200_mmr_diversified").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val want = mmrRecompute(sfDir)
    // ids/ranks exact; scores to 1e-9 (the emitted column is round(·,6),
    // whose decimal-digit tie behavior this recompute doesn't replicate)
    assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-6, s"score drift at $g vs $w")
    }
  }

  test("q200 picks are distinct candidates and rank 1 is pure relevance") {
    val rows = Registry.byName("q200_mmr_diversified").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val qv = quantized(sfDir)
    rows.groupBy(_._1).foreach { case (q, sel) =>
      assert(sel.map(_._3).distinct.length == 5)
      val best = qv.keys.filter(_ != q).minBy(n => (-cos(qv(q), qv(n)), n))
      assert(sel.find(_._2 == 1L).get._3 == best,
        s"rank-1 of query $q must be the plain cosine argmax")
    }
  }

  test("q200 runs in at most 10 Spark jobs, full output written") {
    val out = tempDir("graft_q200_jobs")
    val jobs = jobsDuring {
      Registry.byName("q200_mmr_diversified").fn(spark, sfDir)
        .write.parquet(s"$out/out")
    }
    assert(jobs <= 10, s"q200 ran $jobs jobs")
  }

  /** Runs `body` on a temporary directory holding `vecs` as the
    * embeddings table, vec_id 0, 1, ...
    */
  private def withEmbeddings[T](prefix: String, vecs: Seq[Array[Float]])(
      body: String => T): T = {
    val dir = tempDir(prefix)
    spark.createDataFrame(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    body(dir)
  }

  private def assertMatchesRecompute(dir: String): Seq[(Long, Long, Long)] = {
    val got = mmrRows(dir)
    val want = mmrRecompute(dir)
    assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-6, s"score drift at $g vs $w")
    }
    got.map(r => (r._1, r._2, r._3))
  }

  test("q200 emits |cand| rows per query when fewer than 5 candidates exist") {
    val got = withEmbeddings("graft_mmr_small", Seq(
      Array(1f, 0f, 0f), Array(1f, 1f, 0f), Array(0f, 1f, 1f), Array(1f, 0f, 1f)))(
      assertMatchesRecompute)
    assert(got.groupBy(_._1).map { case (q, r) => q -> r.length } ==
      (0L until 4L).map(_ -> 3).toMap, s"each query has 3 candidates: $got")
  }

  test("q200 breaks equal scores toward the lower n_id (duplicate vectors)") {
    val a = Array(1f, 0f, 0f, 0f); val b = Array(1f, 1f, 0f, 0f)
    val c = Array(0f, 1f, 1f, 0f); val e = Array(0f, 0f, 1f, 1f)
    // ids: 0 a, 1 b, 2 b, 3 c, 4 c, 5 a, 6 e, 7 e
    val got = withEmbeddings("graft_mmr_dup", Seq(a, b, b, c, c, a, e, e))(
      assertMatchesRecompute)
    val twins = Seq((1L, 2L), (3L, 4L), (6L, 7L), (0L, 5L))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val rank = rows.map(r => r._3 -> r._2).toMap
      twins.filter { case (lo, hi) => lo != q && hi != q }.foreach {
        case (lo, hi) =>
          rank.get(hi).foreach { rh =>
            assert(rank.get(lo).exists(_ < rh),
              s"query $q picked $hi at rank $rh before its twin $lo")
          }
      }
    }
    assert(got.exists { case (q, _, n) => q != 1L && q != 2L && n == 1L },
      s"fixture must pick a tied twin: $got")
  }

  /** Driver-side PQ: anchors by mix64 order, per-subspace argmin
    * encode, ADC lookup sums — the exact q202 contract. */
  private def pqRecompute(dir: String): Seq[(Long, Long, Long, Long, Long)] = {
    val qv = quantized(dir)
    def mix64(x: Long): Long = {
      // the plans.Mix64 kernel (xorshift-family constants)
      val z1 = (x ^ (x >>> 30)) * 2685821657736338717L
      val z2 = (z1 ^ (z1 >>> 27)) * 1181783497276652981L
      z2 ^ (z2 >>> 31)
    }
    val anchors = qv.keys.toSeq
      .sortBy(id => (mix64(id) >>> 12, id)).take(16)
    def sub(v: Array[Double], s: Int): Array[Double] =
      v.slice(s * 8, s * 8 + 8)
    def l2(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) - 2 * dot(a, b) + dot(b, b)
    // codebook: cw(sub)(code)
    val cb = Array.tabulate(8, 16)((s, c) => sub(qv(anchors(c)), s))
    val codes: Map[Long, Array[Int]] = qv.map { case (id, v) =>
      id -> Array.tabulate(8) { s =>
        (0 until 16).minBy(c => (l2(sub(v, s), cb(s)(c)), c))
      }
    }
    (0L until 5L).flatMap { q =>
      val lut = Array.tabulate(8, 16)((s, c) => l2(sub(qv(q), s), cb(s)(c)))
      val top = qv.keys.filter(_ != q).toSeq
        .map(n => n -> codes(n).zipWithIndex.map { case (c, s) => lut(s)(c) }.sum.toLong)
        .sortBy { case (n, dd) => (dd, n) }.take(10)
      top.zipWithIndex.map { case ((n, dd), i) =>
        (q, (i + 1).toLong, n, dd, l2(qv(q), qv(n)).toLong)
      }
    }
  }

  test("q202 PQ ADC matches a driver-side recompute") {
    val got = Registry.byName("q202_pq_adc_topk").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == pqRecompute(sfDir))
  }

  test("q203 mutual-kNN matches a driver-side recompute of the full pipeline") {
    val got = Registry.byName("q203_mutual_knn").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(4))).toSeq

    // raw double vectors (the query scores RAW cosines, not quantized)
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r =>
        r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue()).toArray).toMap
    val k = api.AutoTune.isolationK(api.AutoTune.corpusRows(spark, sfDir))
    val cents = queries.SimilarityQueries
      .corpusCentroids(spark, sfDir, k, 6)
      .collect().map(r =>
        (r.getInt(0), r.getSeq[Number](1).map(_.doubleValue()).toArray))
    val cell = raw.map { case (id, v) =>
      id -> cents.minBy { case (c, ce) => (-cos(v, ce), c) }._1
    }
    val byCell = raw.keys.groupBy(cell)
    val top3 = raw.keys.map { u =>
      u -> byCell(cell(u)).filter(_ != u).toSeq
        .map(v => v -> cos(raw(u), raw(v)))
        .sortBy { case (v, c) => (-c, v) }.take(3)
    }.toMap
    val mutual = (for {
      (u, ns) <- top3.toSeq; (v, c) <- ns
      if u < v && top3(v).exists(_._1 == u)
    } yield (u, v, cell(u), c))
      .sortBy { case (u, v, _, c) => (-c, u, v) }.take(50)
    val want = mutual.zipWithIndex.map { case ((u, v, cc, _), i) =>
      (u, v, cc, i + 1)
    }
    assert(got == want)
  }

  test("q203 pairs are genuinely mutual and within one cell") {
    val rows = Registry.byName("q203_mutual_knn").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (u, v, c) => u < v && c >= -1.0 && c <= 1.0 })
    val sims = rows.map(_._3)
    assert(sims.toSeq == sims.toSeq.sorted.reverse,
      "pairs must be emitted strongest-first")
  }

  test("q202 distances are admissible integers and ranks are ordered") {
    val rows = Registry.byName("q202_pq_adc_topk").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.forall(r => r._3 >= 0L && r._4 >= 0L))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val byRank = g.sortBy(_._2).map(_._3).toSeq
      assert(byRank == byRank.sorted, "ADC distance must increase with rank")
    }
  }

  test("q228 hard negatives: wrong-label only, desc-ranked, contiguous rn per anchor") {
    // (anchor, anchor_label, negative, negative_label, c_id, cos, rn)
    val rows = Registry.byName("q228_hard_negatives").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(5), r.getInt(6)))
    assert(rows.nonEmpty)
    // a hard negative is by definition a WRONG-label example
    assert(rows.forall(r => r._2 != r._4), "same-label pair emitted")
    assert(rows.forall(r => r._5 >= -1.0 && r._5 <= 1.0))
    rows.groupBy(_._1).foreach { case (a, g) =>
      val byRn = g.sortBy(_._6)
      assert(byRn.map(_._6).toSeq == (1 to g.length).toSeq,
        s"anchor $a: rn not contiguous from 1")
      assert(g.length <= 3, s"anchor $a: more than top-3 emitted")
      val cs = byRn.map(_._5).toSeq
      assert(cs == cs.sorted.reverse, s"anchor $a: cos not desc by rn")
    }
    // labels in the output match the embeddings table exactly
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r._1) == r._2 && labels(r._3) == r._4),
      "output labels diverge from the embeddings table")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q229 anisotropy equals a driver-side O(n^2) pairwise recompute (the identity is exact)") {
    val row = Registry.byName("q229_anisotropy_audit").fn(spark, sfDir)
      .collect().head
    val (n, dims, pairDot, selfDot, meanMicro) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))
    // replicate the milli-unit quantization in driver doubles (same
    // IEEE ops) and sum ALL ordered pairs the slow way
    val qus = Tables.embeddings(spark, sfDir).select(col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => math.floor(1000.0 * x / nrm + 0.5).toLong)
      }.filter(_ => true)
    assert(n == qus.length && dims == qus.head.length)
    val self = qus.map(q => q.map(x => x * x).sum).sum
    assert(selfDot == self, s"self-dot: $selfDot vs $self")
    var pairs = 0L
    var i = 0
    while (i < qus.length) {
      var j = 0
      while (j < qus.length) {
        if (i != j) {
          var d = 0; var dot = 0L
          while (d < qus(i).length) { dot += qus(i)(d) * qus(j)(d); d += 1 }
          pairs += dot
        }
        j += 1
      }
      i += 1
    }
    assert(pairDot == pairs,
      s"sum-vector identity broke: $pairDot vs brute $pairs")
    assert(meanMicro ==
      math.floor(pairs.toDouble / (n.toDouble * (n - 1))).toLong)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q236 mines exactly the planted parallel pairs, mutual-best, margin above the bar") {
    val dir = tempDir("graft_bitext")
    // three planted cross-side parallel pairs on near-identical
    // directions, plus one decoy per side pointing elsewhere; a
    // shared positive base keeps all sims positive so neighborhoods
    // are well-defined. Even label = source side, odd = target side.
    def vec(axis: Int, bump: Float): Array[Float] = {
      val v = Array.fill(8)(1.0f); v(axis) += 5.0f + bump; v
    }
    val rows = Seq(
      (0L, vec(0, 0f), 0), (1L, vec(0, 0.1f), 1),
      (2L, vec(1, 0f), 0), (3L, vec(1, 0.1f), 1),
      (4L, vec(2, 0f), 0), (5L, vec(2, 0.1f), 1),
      (6L, vec(3, 0f), 0), (7L, vec(4, 0f), 1))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.conf.set("spark.graft.isolation.k", "1") // one cell: all pairs compete
    try {
      val got = Registry.byName("q236_bitext_mining").fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("sim_micro"), r.getAs[Long]("margin_bp")))
      val mined = got.map(g => (g._1, g._2)).toSet
      assert(Set((0L, 1L), (2L, 3L), (4L, 5L)).subsetOf(mined),
        s"planted parallel pairs must be mined, got $mined")
      // decoys point at different axes: if (6,7) survives at all its
      // margin must sit strictly below every planted pair's margin
      val plantedMin = got.filter(g => g._1 != 6L).map(_._4).min
      got.filter(_._1 == 6L).foreach { g =>
        assert(g._4 < plantedMin,
          s"decoy pair margin ${g._4} must be below planted min $plantedMin")
      }
      got.foreach(g => assert(g._4 > 10000, "mining bar is margin > 1.0"))
    } finally spark.conf.unset("spark.graft.isolation.k")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q236 margin normalizes hubness away: the pair raw cosine gets wrong is re-routed") {
    val dir = tempDir("graft_hub")
    // side 0: a HUB h near everything (the degenerate direction real
    // embedding spaces grow) and a specific source s1; side 1: t_a is
    // RAW-COSINE-closer to the hub than to its true partner s1, and
    // three decoys keep the hub's neighborhood mean high. The margin
    // criterion divides by that mean, so t_a's best MARGIN match is
    // s1 — the exact failure mode margin scoring exists to fix.
    val rows = Seq(
      (0L, Array(1f, 1f, 1f, 1f), 0),                        // hub, side 0
      (2L, Array(2f, 0f, 0f, 0f), 2),                        // s1, side 0
      (1L, Array(0.75f, 0.2833f, 0.2833f, 0.2833f), 1),      // t_a, side 1
      (3L, Array(1f, 1f, 1f, 0.9f), 3),                      // decoys near hub
      (5L, Array(1f, 1f, 0.9f, 1f), 5),
      (7L, Array(1f, 0.9f, 1f, 1f), 7))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // precondition that makes the fixture meaningful: raw cosine
    // REALLY prefers the hub for t_a
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    assert(cos(rows(0)._2, rows(2)._2) > cos(rows(1)._2, rows(2)._2),
      "fixture: hub must beat the true partner on raw cosine")
    spark.conf.set("spark.graft.isolation.k", "1")
    try {
      val mined = Registry.byName("q236_bitext_mining").fn(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(mined.contains((2L, 1L)),
        s"margin must re-route t_a to its true partner s1, got $mined")
      assert(!mined.contains((0L, 1L)),
        s"the raw-cosine hub match must NOT be mined, got $mined")
    } finally spark.conf.unset("spark.graft.isolation.k")
    spark.sharedState.cacheManager.clearCache()
  }

  test("isolation.k = 0 fails q191, q203, q228 and q236 with the range message") {
    spark.conf.set("spark.graft.isolation.k", "0")
    try Seq("q191_isolation_audit", "q203_mutual_knn", "q228_hard_negatives",
        "q236_bitext_mining").foreach { n =>
      val e = intercept[IllegalArgumentException](
        Registry.byName(n).fn(spark, sfDir))
      assert(e.getMessage.contains("invalid spark.graft.isolation.k=0"),
        s"$n: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.isolation.k")
  }

  test("q236 pairs are mutual best matches under a driver-side recompute") {
    val rows = Registry.byName("q236_bitext_mining").fn(spark, sfDir).collect()
    // mined pairs form a partial matching: no endpoint repeats
    val srcs = rows.map(_.getLong(0)); val tgts = rows.map(_.getLong(1))
    assert(srcs.distinct.length == srcs.length, "each source mined at most once")
    assert(tgts.distinct.length == tgts.length, "each target mined at most once")
    val sides = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1) % 2).toMap
    rows.foreach { r =>
      assert(sides(r.getLong(0)) == 0 && sides(r.getLong(1)) == 1,
        "pairs are strictly cross-side")
      assert(r.getAs[Long]("margin_bp") > 10000)
      assert(r.getAs[Long]("sim_micro") > 0)
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q238 JL distortion concentrates around 1.0x and covers every disjoint pair") {
    val rows = Registry.byName("q238_jl_distortion").fn(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    val totalPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(totalPairs == n / 2,
      s"every (2m, 2m+1) pair must be audited: $totalPairs vs ${n / 2}")
    rows.foreach { r =>
      val (lo, hi, mean) = (r.getAs[Long]("min_bp"), r.getAs[Long]("max_bp"),
        r.getAs[Long]("mean_bp"))
      assert(lo <= mean && mean <= hi)
      assert(r.getAs[Long]("bucket") == lo / 1000, "bucket is the floored 0.1x bin")
    }
    // E||Px-Py||^2 = 16*||x-y||^2 exactly under Rademacher signs, so the
    // pair-weighted mean distortion must sit near 10000 bp
    val wMean = rows.map(r => r.getAs[Long]("mean_bp") * r.getAs[Long]("n_pairs")).sum /
      totalPairs
    assert(wMean > 8000 && wMean < 12000,
      s"JL concentration: weighted mean distortion $wMean bp should be ~10000")
    spark.sharedState.cacheManager.clearCache()
  }
}
