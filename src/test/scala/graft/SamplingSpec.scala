package graft

import org.apache.spark.sql.functions._

/** Engine-RNG sampling surfaces (no oracle — Spark's sampler is
  * engine-specific): seeded reproducibility, stratified sampleBy
  * rates, and randomSplit partitioning.
  */
class SamplingSpec extends SparkSpec {

  test("q183 filter sweep: deciles partition the corpus, cumulatives monotone and complete") {
    val rows = Registry.byName("q183_filter_sweep").fn(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L),
      "exactly deciles 1..10 in order")
    // decile sizes balanced to within one row (rank-based bucketing)
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, s"unbalanced deciles: ${sizes.toSeq}")
    // cumulatives are exact prefix sums and end at the corpus totals
    var (cd, ct) = (0L, 0L)
    rows.foreach { r =>
      cd += r.getLong(1); ct += r.getLong(2)
      assert(r.getLong(3) == cd && r.getLong(4) == ct,
        s"cumulative drift at decile ${r.getLong(0)}")
    }
    val scored = Tables.documents(spark, sfDir)
      .filter(functions.TextFunctions.tokenCount(col("text")) > 0).count()
    assert(cd == scored, s"cum_docs $cd != scored docs $scored")
    assert(rows.last.getLong(5) == 10000L,
      "full retention must read 10000 bp")
    // shares monotone non-decreasing
    assert(rows.map(_.getLong(5)).sliding(2).forall {
      case Array(a, b) => a <= b
      case _ => true
    })
    spark.sharedState.cacheManager.clearCache()
  }

  test("sample(fraction, seed) is reproducible for a fixed seed") {
    val docs = Tables.documents(spark, sfDir)
    val a = docs.sample(0.2, seed = 7).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = docs.sample(0.2, seed = 7).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "same seed must select the same rows")
    val n = docs.count().toDouble
    assert(a.size > 0.1 * n && a.size < 0.3 * n, s"fraction off: ${a.size}/$n")
  }

  test("sampleBy applies per-stratum fractions") {
    val docs = Tables.documents(spark, sfDir)
    val fractions = Map("en" -> 0.5, "es" -> 0.1, "de" -> 0.1, "fr" -> 0.1, "zh" -> 0.1)
    val sampled = docs.stat.sampleBy("lang", fractions, seed = 7L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled.getOrElse("en", 0L).toDouble / totals("en")
    val esRate = sampled.getOrElse("es", 0L).toDouble / totals("es")
    assert(enRate > 0.3 && enRate < 0.7, s"en rate $enRate")
    assert(esRate < 0.3, s"es rate $esRate")
  }

  test("randomSplit partitions the data disjointly and completely") {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), seed = 7L)
    val tr = train.collect().map(_.getLong(0)).toSet
    val te = test.collect().map(_.getLong(0)).toSet
    assert(tr.intersect(te).isEmpty, "splits overlap")
    assert(tr.size + te.size == docs.count(), "splits lose rows")
    assert(tr.size > te.size, "80/20 proportions inverted")
  }

  test("q193 frontier equals brute-force dominance and is a strict staircase") {
    val got = Registry.byName("q193_pareto_frontier").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // brute force: a point survives iff nothing dominates it
    val pts = graft.queries.RetrievalQueries
      .rankedQualitySignals(spark, sfDir)
      .select("doc_id", "s_div", "s_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = pts.filter { case (_, q, l) =>
      !pts.exists { case (_, q2, l2) =>
        q2 >= q && l2 >= l && (q2 > q || l2 > l)
      }
    }.sortBy { case (id, q, _) => (-q, id) }
    assert(got.toSeq == expected.toSeq)

    // structure: across DISTINCT frontier points, decreasing quality
    // must buy strictly increasing length (else one would dominate)
    val distinctPts = got.map(r => (r._2, r._3)).distinct
    distinctPts.sliding(2).foreach {
      case Array((q1, l1), (q2, l2)) =>
        assert(q1 > q2 || (q1 == q2 && l1 == l2))
        if (q1 > q2) assert(l2 > l1,
          s"staircase violated: ($q1,$l1) then ($q2,$l2)")
      case _ => ()
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q219 time-series CV: expanding-window identity and driver parity") {
    val got = Registry.byName("q219_time_series_cv").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSeq == (1L to 5L))
    // THE expanding-window identity: fold k's test block is exactly
    // what fold k+1 adds to its training window
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 == a._2 + a._3,
        s"train(${b._1}) != train(${a._1}) + test(${a._1}): $b vs $a")
    }
    // leakage is bounded by both sides
    got.foreach { case (k, _, _, tu, eu, leak) =>
      assert(leak <= math.min(tu, eu), s"fold $k leak $leak > min($tu,$eu)")
    }
    // driver recompute
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("d"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val expect = (1 to 5).map { k =>
      val tr = ev.filter(_._2 < 5 * k)
      val te = ev.filter(e => e._2 >= 5 * k && e._2 < 5 * k + 5)
      val (tu, eu) = (tr.map(_._1).toSet, te.map(_._1).toSet)
      (k.toLong, tr.length.toLong, te.length.toLong,
        tu.size.toLong, eu.size.toLong, tu.intersect(eu).size.toLong)
    }
    assert(got.toSeq == expect)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q232 weighted sample matches a driver E-S recompute; heavier docs win more often") {
    val got = Registry.byName("q232_weighted_sample").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 50)
    // keys strictly ordered by rank (desc, doc_id tiebreak)
    assert(got.map(_._1).toSeq == (1L to 50L).toSeq)
    val keys = got.map(_._4).toSeq
    assert(keys == keys.sorted.reverse)
    // driver recompute: per doc, max of w mix64-u52 draws; the top-50
    // must be IDENTICAL (the whole point: no float pow, no RNG state)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").count(_.nonEmpty).toLong))
      .filter(_._2 > 0)
    val want = docs.map { case (id, w) =>
      val key = (1L to w).map(j => graft.plans.Mix64.mix(id * 1000003L + j) >>> 12).max
      (id, w, key)
    }.sortBy { case (id, _, k) => (-k, id) }.take(50)
      .zipWithIndex.map { case ((id, w, k), i) => (i + 1L, id, w, k) }
    assert(got.toSeq == want.toSeq,
      s"E-S draw diverged from the driver recompute")
    // the sample is weight-BIASED: average weight among the 50 winners
    // exceeds the corpus average (max-of-w keys grow with w)
    val avgAll = docs.map(_._2).sum.toDouble / docs.length
    val avgWin = got.map(_._3).sum.toDouble / got.length
    assert(avgWin > avgAll,
      s"winners' mean weight $avgWin not above corpus mean $avgAll")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q232 chunked draw is exact on long docs (stride boundaries + a multi-chunk giant)") {
    // fixture corpus exercising the 4096-stride chunk fold: weights
    // exactly at, one over, and far past the stride, plus small docs —
    // the chunked max must equal the flat max over j = 1..w for all
    import spark.implicits._
    val weights = Seq(1L, 7L, 4095L, 4096L, 4097L, 12345L)
    val dir = tempDir("graft_q232_long")
    weights.zipWithIndex.map { case (w, i) =>
      (i + 1L, Seq.fill(w.toInt)("tok").mkString(" "), "en", "fixture", 3L * w)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q232_weighted_sample").fn(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = weights.zipWithIndex.map { case (w, i) =>
      val id = i + 1L
      val key = (1L to w).map(j => graft.plans.Mix64.mix(id * 1000003L + j) >>> 12).max
      (id, w, key)
    }.sortBy { case (id, _, k) => (-k, id) }
    assert(got == want, "chunked fold diverged from the flat 1..w max")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q249 RBO poles: identical rankers read 651321 ppm, disjoint top-10s read 0") {
    import spark.implicits._
    // identical: TTR ties everywhere (all-distinct tokens) make r_div
    // the doc_id order; lengths DESCEND in doc_id so r_len matches it
    val words = (1 to 12).map(i => ('a' + i - 1).toChar.toString * 3)
    val same = (1 to 12).map { i =>
      val t = words.take(13 - i).mkString(" ")
      (i.toLong, t, "en", "s", t.length.toLong)
    }
    val dir1 = tempDir("graft_rbo1")
    same.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val r1 = Registry.byName("q249_rank_agreement").fn(spark, dir1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(r1.map(_._1).toSeq == (1L to 10L), s"depth spine wrong: ${r1.toSeq}")
    r1.foreach { case (d, o, _) => assert(o == d, s"identical rankers: o_$d != $d") }
    assert(r1.last._3 == 651321L, // floor(1e6 * (1 - 0.9^10))
      s"identical-ranker RBO@10 must read 651321 ppm: ${r1.toSeq}")
    // disjoint: long-but-repetitive docs vs short-but-diverse docs
    val low = "xx " * 40 // 40 tokens, 1 distinct -> low TTR, long
    val disj = (1 to 12).map(i => (i.toLong, low + "y" * i, "en", "s",
        (low.length + i).toLong)) ++
      (13 to 24).map(i => (i.toLong, words.take(5).mkString(" ") + " z" + i,
        "en", "s", 25L))
    val dir2 = tempDir("graft_rbo2")
    disj.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val r2 = Registry.byName("q249_rank_agreement").fn(spark, dir2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(r2.forall(x => x._1 == 0L && x._2 == 0L),
      s"disjoint top-10s must read 0 everywhere: ${r2.toSeq}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q249 running rbo_ppm is monotone and matches a BigInt driver recompute on the corpus") {
    val got = Registry.byName("q249_rank_agreement").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sig = graft.queries.RetrievalQueries.rankedQualitySignals(spark, sfDir)
      .select(col("r_len"), col("r_div")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = (1 to 10).map { d =>
      val o = sig.count { case (a, b) => a <= d && b <= d }.toLong
      (d.toLong, o, 10000L * o / d)
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == want, s"overlaps diverged: ${got.toSeq}")
    var cum = BigInt(0)
    got.foreach { case (d, o, _, ppm) =>
      cum += BigInt(o) * (BigInt(9).pow(d.toInt - 1) *
        BigInt(10).pow(10 - d.toInt) * (2520 / d.toInt))
      assert(BigInt(ppm) == cum * 1000000 / BigInt("25200000000000"),
        s"rbo_ppm at depth $d diverged")
    }
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq,
      "running RBO must be monotone non-decreasing")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q241 context frontier matches a driver recompute; truncation falls and docs_over shrinks in L") {
    val rows = Registry.byName("q241_context_frontier").fn(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(64L, 128L, 256L, 512L))
    val lens = Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").count(_.nonEmpty).toLong)
      .filter(_ > 0)
    rows.foreach { r =>
      val l = r.getLong(0)
      val chunks = lens.map(n => (n + l - 1) / l).sum
      val kept = lens.map(n => math.min(n, l)).sum
      assert(r.getAs[Long]("n_docs") == lens.length.toLong)
      assert(r.getAs[Long]("total_tokens") == lens.sum)
      assert(r.getAs[Long]("pad_chunks") == chunks)
      assert(r.getAs[Long]("pad_tokens") == chunks * l - lens.sum)
      assert(r.getAs[Long]("pad_bp") ==
        10000 * (chunks * l - lens.sum) / (chunks * l))
      assert(r.getAs[Long]("trunc_tokens") == lens.sum - kept)
      assert(r.getAs[Long]("trunc_bp") == 10000 * (lens.sum - kept) / lens.sum)
      assert(r.getAs[Long]("docs_over") == lens.count(_ > l).toLong)
    }
    // the frontier shape: truncation loss and over-length docs are
    // monotone non-increasing in the candidate length
    val trunc = rows.map(_.getAs[Long]("trunc_bp"))
    val over = rows.map(_.getAs[Long]("docs_over"))
    assert(trunc.zip(trunc.tail).forall { case (a, b) => b <= a })
    assert(over.zip(over.tail).forall { case (a, b) => b <= a })
  }
}
