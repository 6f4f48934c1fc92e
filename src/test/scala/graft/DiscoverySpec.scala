package graft

import org.apache.spark.sql.functions._

/** Invariant + plan-shape gates for the retrieval / mining /
  * profiling family (q114–q121) beyond the driver's oracle hash:
  * the properties here are the ones the DuckDB twin can't see —
  * physical plan shape, cross-row invariants, and schema contracts.
  */
class DiscoverySpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).fn(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q114 BM25 scans without explode and ranks monotonically") {
    // the per-term TFs are HOFs per row — no Generate node anywhere
    assert(!plan("q114_bm25").contains("Generate"),
      "BM25 should not explode the token stream")
    val rows = Registry.byName("q114_bm25").fn(spark, sfDir)
      .orderBy(col("rn")).select(col("bm25")).collect().map(_.getDouble(0))
    assert(rows.nonEmpty && rows.sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true
    }, s"BM25 scores not monotone over rank: ${rows.toSeq}")
  }

  test("q116 association rules: no cartesian, counts consistent, lift symmetric") {
    val p = plan("q116_association_rules")
    assert(!p.contains("CartesianProduct"),
      "rule mining must not plan a cartesian pair join")
    val rows = Registry.byName("q116_association_rules").fn(spark, sfDir)
      .select("antecedent", "consequent", "n_ab", "n_a", "n_b", "lift")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(2) <= r.getLong(4),
        s"pair support exceeds item support: $r")
    }
    // lift is direction-free: where both directions survive the
    // top-100 cut, their lifts agree
    val lift = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    lift.foreach { case ((a, b), l) =>
      lift.get((b, a)).foreach(l2 => assert(l == l2,
        s"lift asymmetric for ($a,$b): $l vs $l2"))
    }
  }

  test("q119 FK discovery: true FKs at 10000 bp, everything bounded") {
    val rows = Registry.byName("q119_fk_discovery").fn(spark, sfDir)
      .select("fk_col", "containment_bp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("lineitem.l_orderkey", "lineitem.l_partkey", "lineitem.l_suppkey",
      "orders.o_custkey", "nation.n_regionkey").foreach { fk =>
      assert(rows(fk) == 10000L, s"true FK $fk not fully contained: ${rows(fk)}")
    }
    rows.values.foreach(bp => assert(bp >= 0L && bp <= 10000L))
  }

  test("q120 golden record: survivorship picks CRM names and full coverage") {
    val df = Registry.byName("q120_golden_record").fn(spark, sfDir)
    val rows = df.select("n_sources", "name", "segment").collect()
    rows.foreach { r =>
      assert(r.getLong(0) == 3L, s"entity missing a feed: $r")
      // priority rule: the CRM (as-is) name must win over the
      // upper-cased web and padded legacy variants
      assert(r.getString(1).startsWith("Customer#"), s"mangled survivor: $r")
      assert(r.getString(1).trim == r.getString(1), s"padded survivor: $r")
      // web always supplies a segment, so the non-null rule never
      // leaves a hole
      assert(!r.isNullAt(2), s"segment survivorship dropped to null: $r")
    }
  }

  test("q115 SCD2: one current version per key, dense version numbers") {
    val df = Registry.byName("q115_scd_type2").fn(spark, sfDir)
    import spark.implicits._
    val perUser = df.groupBy(col("user_id"))
      .agg(sum(col("is_current").cast("long")).as("n_current"),
        max(col("version_n")).as("maxv"), count(lit(1)).as("n"))
      .collect()
    perUser.foreach { r =>
      assert(r.getLong(1) == 1L, s"user ${r.getLong(0)}: ${r.getLong(1)} current rows")
      assert(r.getInt(2).toLong == r.getLong(3),
        s"user ${r.getLong(0)}: version numbers not dense")
    }
  }

  test("q117 vocab growth: curve is monotone and lands on the true totals") {
    val rows = Registry.byName("q117_vocab_growth").fn(spark, sfDir)
      .orderBy(col("bucket")).collect()
    assert(rows.length == 20, s"expected 20 buckets, got ${rows.length}")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) > a.getLong(1), "cum_tokens not strictly increasing")
        assert(b.getLong(2) >= a.getLong(2), "cum_vocab decreased")
      case _ => ()
    }
    val toksAll = Tables.documents(spark, sfDir)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("t"))
    val total = toksAll.count()
    val vocab = toksAll.distinct().count()
    assert(rows.last.getLong(1) == total, "final cum_tokens != corpus tokens")
    assert(rows.last.getLong(2) == vocab, "final cum_vocab != corpus vocabulary")
  }

  test("q122 OHLC bars: extremes bound open/close, no window in the plan") {
    assert(!plan("q122_ohlc_bars").contains("Window"),
      "OHLC must aggregate, not sort-within-window")
    Registry.byName("q122_ohlc_bars").fn(spark, sfDir)
      .select("open", "high", "low", "close").collect().foreach { r =>
        val (o, h, l, c) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(h >= o && h >= c && l <= o && l <= c, s"bar extremes violated: $r")
      }
  }

  test("q123 forward fill: dense grid, gaps inherit the previous tick") {
    val rows = Registry.byName("q123_forward_fill").fn(spark, sfDir)
      .orderBy(col("event_type"), col("hour_start"))
      .select("event_type", "filled", "is_gap").collect()
    val types = rows.map(_.getString(0)).distinct
    assert(rows.length == 144 * types.length,
      s"grid not dense: ${rows.length} rows for ${types.length} types")
    rows.grouped(144).foreach { series =>
      series.sliding(2).foreach {
        case Array(prev, cur) =>
          if (cur.getBoolean(2) && !prev.isNullAt(1))
            assert(!cur.isNullAt(1) && cur.getDouble(1) == prev.getDouble(1),
              s"gap did not carry the last tick: $prev -> $cur")
        case _ => ()
      }
    }
  }

  test("q125 Markov transitions: counts tie out to events minus users") {
    val total = Registry.byName("q125_markov_transitions").fn(spark, sfDir)
      .agg(sum(col("n_transitions"))).collect()(0).getLong(0)
    val e = Tables.events(spark, sfDir)
    val expected = e.count() - e.select(col("user_id")).distinct().count()
    assert(total == expected,
      s"transition total $total != events - users $expected")
  }

  test("q126 contract audit: clean TPC-H data passes every rule") {
    val rows = Registry.byName("q126_contract_audit").fn(spark, sfDir)
      .select("rule", "n_violations", "pass").collect()
    assert(rows.length == 8, s"expected 8 rules, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getLong(1) == 0L, s"rule failed on clean data: $r")
    }
  }

  test("q131 hierarchy: doubling result equals the closed form") {
    val rows = Registry.byName("q131_hierarchy_flatten").fn(spark, sfDir)
      .collect()
    rows.foreach { r =>
      val (p, root, depth) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(root == p % 100 && depth == p / 100,
        s"pointer doubling wrong for $p: root=$root depth=$depth")
    }
  }

  test("q132 interval merge: spans are disjoint and ordered per user") {
    val byUser = Registry.byName("q132_interval_merge").fn(spark, sfDir)
      .orderBy(col("user_id"), col("span_start")).collect()
      .groupBy(_.getLong(0))
    byUser.values.foreach { spans =>
      spans.sliding(2).foreach {
        case Array(a, b) =>
          assert(!b.getTimestamp(1).before(a.getTimestamp(2)),
            s"overlapping merged spans: $a / $b")
        case _ => ()
      }
    }
  }

  test("q133 upsampling: repeat factors bounded and copies dense") {
    val rows = Registry.byName("q133_source_upsampling").fn(spark, sfDir)
      .groupBy(col("doc_id"), col("rep"))
      .agg(count(lit(1)).as("copies"), max(col("copy_idx")).as("mx"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 4, s"rep out of bounds: $r")
      assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == r.getLong(1),
        s"copies not dense 1..rep: $r")
    }
  }

  test("q134 negative sampling: negatives never share the anchor's label") {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val bad = Registry.byName("q134_negative_sampling").fn(spark, sfDir)
      .join(e.select(col("vec_id").as("a_id"), col("label").as("la")), "a_id")
      .join(e.select(col("vec_id").as("neg_id"), col("label").as("ln")), "neg_id")
      .filter(col("la") === col("ln")).count()
    assert(bad == 0, s"$bad negatives share the anchor label")
    val perAnchor = Registry.byName("q134_negative_sampling").fn(spark, sfDir)
      .groupBy(col("a_id")).agg(count(lit(1)).as("k")).collect()
    perAnchor.foreach(r => assert(r.getLong(1) == 4L, s"anchor without 4 negatives: $r"))
  }

  test("q135 trend regression: moments reproduce the driver-side OLS") {
    val rows = Registry.byName("q135_trend_regression").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recompute one group's slope naively and compare at output precision
    val sample = Tables.events(spark, sfDir)
      .filter(col("event_type") === rows.head.getString(0))
      .select((expr("unix_micros(ts) div 60000000") - 28401120L).cast("double"),
        round(col("value") * 100).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = sample.length.toDouble
    val (sx, sy) = (sample.map(_._1).sum, sample.map(_._2).sum)
    val sxy = sample.map(p => p._1 * p._2).sum
    val sxx = sample.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(rows.head.getDouble(2) - slope) < 1e-4,
      s"slope mismatch: ${rows.head.getDouble(2)} vs $slope")
  }

  test("q121 LM quality: integer scores cover every bigram exactly once") {
    val df = Registry.byName("q121_lm_quality").fn(spark, sfDir)
    val agg = df.agg(sum(col("n_bigrams")), min(col("avg_nlp_micro"))).collect()(0)
    val trueBigrams = Tables.documents(spark, sfDir)
      .select(size(filter(split(col("text"), " "), t => length(t) > 0)).as("n"))
      .agg(sum(when(col("n") >= 2, col("n") - 1).otherwise(0L))).collect()(0).getLong(0)
    assert(agg.getLong(0) == trueBigrams,
      s"bigram join lost rows: ${agg.getLong(0)} vs $trueBigrams")
    assert(agg.getLong(1) >= 0L, "negative log-prob must be non-negative")
  }

  test("q216 FD discovery: sketch refutes weak candidates, exact phase confirms strong FDs") {
    // the sketch phase must keep every true FD (soundness of the 7200
    // bp margin) and refute BOTH lineitem candidates (the biggest
    // table never enters the exact distinct exchange) — the 100 TB
    // rule the query exists to demonstrate
    val surv = queries.MiningQueries.fdSketchSurvivors(spark, sfDir)
      .map { case (t, a, b) => s"$t.$a->$b" }.toSet
    val trueFds = Set("customer.c_custkey->c_nationkey", "documents.doc_id->lang",
      "orders.o_orderkey->o_orderpriority", "nation.n_nationkey->n_regionkey")
    assert(trueFds.subsetOf(surv), s"sketch refuted a true FD: $surv")
    assert(!surv.exists(_.startsWith("lineitem.")),
      s"sketch failed to refute the lineitem candidates (bp ≤ 4449 on this data): $surv")
    // the emitted rows are exactly the strong FDs, each exact-confirmed
    val got = Registry.byName("q216_fd_discovery").fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got.keySet == trueFds,
      s"emitted set must be the ≥9000 bp candidates: ${got.keySet}")
    got.foreach { case (fd, (l, p, holds, bp)) =>
      assert(holds && l == p && bp == 10000L, s"key FD $fd broken: ${got(fd)}")
      val Array(ta, rest) = fd.split("\\.", 2)
      val Array(a, b) = rest.split("->")
      val t = Tables.load(spark, sfDir, ta)
      val nl = t.select(col(a)).distinct().count()
      val np = t.select(col(a), col(b)).distinct().count()
      assert(l == nl && p == np, s"$fd mismatch: got ${got(fd)}, want ($nl,$np)")
    }
    // discrimination: weak candidates exist in the list and are absent
    // from the output (a profiler that confirms everything
    // discriminates nothing)
    assert(queries.MiningQueries.fdCandidates.size > got.size,
      "no refuted candidate in the list")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q216 exact-confirm budget: over-budget candidates stay sketch-graded, no exact exchange") {
    import queries.MiningQueries
    val est = MiningQueries.fdSketchEstimates(spark, sfDir)
      .map { case ((t, a, b), lp) => (s"$t.$a->$b", t, lp) }
    val nationP = est.collect { case (_, "nation", (_, p)) => p }.max
    val otherMin = est.collect { case (_, t, (_, p)) if t != "nation" => p }.min
    assert(nationP < otherMin,
      s"fixture drift: nation must be the smallest candidate ($nationP vs $otherMin)")
    spark.conf.set(MiningQueries.FdMaxExactPairsConf, nationP.toString)
    try {
      val df = Registry.byName("q216_fd_discovery").fn(spark, sfDir)
      // only the in-budget strong FD is exact-confirmed and emitted …
      val got = df.collect().map(_.getString(0)).toSet
      assert(got == Set("nation.n_nationkey->n_regionkey"),
        s"budget must keep only the nation FD in the exact phase: $got")
      // … and the exact phase's PLAN touches no over-budget table:
      // the sketch-graded candidates never reach a distinct exchange
      val plan = df.queryExecution.executedPlan.toString
      Seq("customer.parquet", "orders.parquet", "lineitem.parquet",
        "documents.parquet").foreach { t =>
        assert(!plan.contains(t),
          s"over-budget table $t entered the exact-confirm plan")
      }
      // budget 0: nothing confirms, the report is empty and scan-free
      spark.conf.set(MiningQueries.FdMaxExactPairsConf, "0")
      val none = Registry.byName("q216_fd_discovery").fn(spark, sfDir)
      assert(none.collect().isEmpty)
      assert(!none.queryExecution.executedPlan.toString.contains(".parquet"),
        "budget 0 must not scan anything in the exact phase")
    } finally spark.conf.unset(MiningQueries.FdMaxExactPairsConf)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q216 sketch-prefilter bar is a conf: raising it refutes more, lowering it confirms all exactly") {
    import queries.MiningQueries
    // absurdly high bar: every candidate sketch-refutes (an exact FD's
    // two independent HLL estimates can coincide, so 10001 bp is NOT
    // impossible — 10⁸ bp is), the report is empty and scan-free
    spark.conf.set(MiningQueries.FdSketchSurvBpConf, "100000000")
    try {
      val none = Registry.byName("q216_fd_discovery").fn(spark, sfDir)
      assert(none.collect().isEmpty,
        "an impossible sketch bar must refute every candidate")
      assert(!none.queryExecution.executedPlan.toString.contains(".parquet"),
        "sketch-refuted candidates must not reach the exact phase's scans")
      // bar 0: nothing sketch-refutes — every candidate is exact-
      // confirmed (the profiler-correctness extreme), and the emitted
      // strong set equals the default run's (the sketch prefilter
      // only ever removes work, never answers)
      spark.conf.set(MiningQueries.FdSketchSurvBpConf, "0")
      val all = Registry.byName("q216_fd_discovery").fn(spark, sfDir)
        .collect().map(_.getString(0)).toSet
      spark.conf.unset(MiningQueries.FdSketchSurvBpConf)
      val default = Registry.byName("q216_fd_discovery").fn(spark, sfDir)
        .collect().map(_.getString(0)).toSet
      assert(all == default,
        s"sketch prefilter changed the emitted strong-FD set: $all vs $default")
    } finally spark.conf.unset(MiningQueries.FdSketchSurvBpConf)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q217 source saliency matches a driver log-odds recompute") {
    val got = Registry.byName("q217_source_saliency").fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty).map(r.getString(0) -> _))
    val n = toks.length.toLong
    val v = toks.map(_._2).distinct.length.toLong
    val cv = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val ns = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expect = toks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((src, term), cSv) =>
        val num = (cSv + 1) * (n - ns(src) + v)
        val den = (ns(src) + v) * (cv(term) - cSv + 1)
        (src, term, cSv,
          math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong)
      }
      .groupBy(_._1).toSeq.flatMap { case (src, xs) =>
        xs.sortBy { case (_, term, _, d) => (-d, term) }.take(5).zipWithIndex
          .map { case ((s2, term, c, d), i) => (s2, i + 1L, term, c, d) }
      }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == expect)
    // every source surfaces 5 distinctive terms
    assert(got.map(_._1).distinct.length * 5 == got.length)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q222 Zipf fit: driver parity, and a planted power law reads slope -1") {
    import spark.implicits._
    val row = Registry.byName("q222_zipf_fit").fn(spark, sfDir).collect()
    assert(row.length == 1)
    // driver recompute on the real corpus
    val toks = Tables.documents(spark, sfDir).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val cv = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    val xy = cv.zipWithIndex.map { case ((_, c), i) =>
      (math.floor(1e6 * math.log(i + 1.0)).toLong,
        math.floor(1e6 * math.log(c.toDouble)).toLong)
    }
    val n = BigInt(xy.length)
    val (sx, sy) = (xy.map(p => BigInt(p._1)).sum, xy.map(p => BigInt(p._2)).sum)
    val sxy = xy.map(p => BigInt(p._1) * p._2).sum
    val sxx = xy.map(p => BigInt(p._1) * p._1).sum
    val slope = math.floor(1e6 *
      ((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)).toLong
    assert(row.head.getLong(0) == xy.length.toLong &&
      row.head.getLong(1) == toks.length.toLong &&
      row.head.getLong(2) == slope, s"got ${row.head}, want slope $slope")
    // planted power law: term r appears floor(1000/r) times -> the
    // fitted exponent must read ~ -1 (the Zipf signature this
    // diagnostic exists to detect; the real synthetic corpus above is
    // near-uniform and reads ~ -0.18, which is the point)
    val dir = tempDir("graft_zipf")
    val text = (1 to 50).flatMap(r => Seq.fill(1000 / r)(s"zterm$r")).mkString(" ")
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Registry.byName("q222_zipf_fit").fn(spark, dir).collect().head
    val s2 = planted.getLong(2)
    assert(s2 >= -1060000L && s2 <= -940000L,
      s"planted 1/r law should fit slope ~ -1e6 micro, got $s2")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q253 unigram entropy: driver parity; planted repetition/diversity extremes") {
    import spark.implicits._
    def mln(x: Long): Long = math.floor(1e6 * math.log(x.toDouble)).toLong
    val got = Registry.byName("q253_unigram_entropy").fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))).toMap
    val want = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
      .map { case (id, ts) =>
        val cs = ts.groupBy(identity).values.map(_.size.toLong)
        val n = cs.sum
        val s = cs.map(c => c * mln(c)).sum
        val h = mln(n) - s / n
        val eff = if (cs.size > 1) Some(10000L * h / mln(cs.size.toLong)) else None
        id -> ((n, cs.size.toLong, h, eff, eff.exists(_ >= 5000L)))
      }.toMap
    assert(got == want, s"entropy mismatch: ${got.size} vs ${want.size} docs")
    // planted extremes: a one-token cycler collapses (eff NULL, keep
    // false — the doc q73's top-gram mass also catches), an all-
    // distinct doc reads exactly 10000 bp, and a two-token 50/50 doc
    // reads H = ln 2 exactly
    val dir = tempDir("graft_ent")
    Seq(
      (1L, Seq.fill(64)("spam").mkString(" "), "en", "src0", 64L),
      (2L, (1 to 64).map(i => s"w$i").mkString(" "), "en", "src0", 64L),
      (3L, Seq.fill(32)("a b").mkString(" "), "en", "src0", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = Registry.byName("q253_unigram_entropy").fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))).toMap
    assert(p(1L) == ((0L, None, false)), s"cycler: ${p(1L)}")
    assert(p(2L)._2.contains(10000L) && p(2L)._3, s"all-distinct: ${p(2L)}")
    assert(p(3L)._1 == mln(64L) - (64L * mln(32L)) / 64L &&
      p(3L)._2.contains(10000L), s"50/50: ${p(3L)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q230 k-anonymity matches a driver recompute of class sizes and band diversity") {
    val got = Registry.byName("q230_k_anonymity").fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    val rows = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => ((r.getInt(0), r.getString(1)),
        math.floor(r.getDouble(2) / 1000.0).toLong))
    val want = rows.groupBy(_._1).map { case (k, g) =>
      k -> ((g.length.toLong, g.map(_._2).distinct.length.toLong))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (sz, nb)) =>
      val (gsz, gnb, ka, ld) = got(k)
      assert(gsz == sz && gnb == nb && ka == (sz >= 5) && ld == (nb >= 3),
        s"class $k: got ${got(k)}, want ($sz, $nb)")
    }
    // the audit must DISCRIMINATE on this corpus: some class passes
    // and some class fails at least one of the two gates
    assert(got.values.exists(v => v._3 && v._4), "no passing class")
    assert(got.values.exists(v => !v._3 || !v._4), "no failing class")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q97 ordered funnel matches a driver recompute and is monotone") {
    val got = Registry.byName("q97_funnel").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._1).toSeq ==
      Seq("1_view", "2_click_after_view", "3_purchase_after_click"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val byUser = ev.groupBy(_._1)
    def stepTime(g: Array[(Long, String, Long)], typ: String,
        after: Option[Long]): Option[Long] = {
      val c = g.filter(e => e._2 == typ && after.forall(e._3 > _)).map(_._3)
      if (c.isEmpty) None else Some(c.min)
    }
    val funnels = byUser.values.map { g =>
      val t1 = stepTime(g, "view", None)
      val t2 = t1.flatMap(t => stepTime(g, "click", Some(t)))
      val t3 = t2.flatMap(t => stepTime(g, "purchase", Some(t)))
      (t1.isDefined, t2.isDefined, t3.isDefined)
    }.toSeq
    val (n1, n2, n3) = (funnels.count(_._1).toLong,
      funnels.count(_._2).toLong, funnels.count(_._3).toLong)
    assert(got.map(_._2).toSeq == Seq(n1, n2, n3),
      s"funnel counts: got ${got.map(_._2).toSeq}, want ${Seq(n1, n2, n3)}")
    // in-order progression can only shrink
    assert(n1 >= n2 && n2 >= n3)
    spark.sharedState.cacheManager.clearCache()
  }
}
