package graft

import graft.queries.AnnotationQueries

/** Label-consolidation and preference-aggregation semantics, pinned
  * against driver-side recomputation from first principles (the
  * StatisticsSpec convention): the DuckDB oracle proves engine parity,
  * these prove the MATH is the one the scaladoc claims.
  */
class AnnotationSpec extends SparkSpec {

  test("q155 matches a driver-side majority/agreement recompute") {
    val got = AnnotationQueries.q155LabelConsolidation.fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r).toMap

    val votes = Tables.events(spark, sfDir)
      .select("user_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (u, evs) => u -> evs.map(_._2) }

    assert(got.keySet == votes.keySet, "one output row per annotated item")
    votes.foreach { case (u, labels) =>
      val counts = labels.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
      val n = labels.size.toLong
      val topVotes = counts.values.max
      val topLabel = counts.filter(_._2 == topVotes).keys.min
      val samePairs = counts.values.map(c => c * (c - 1)).sum
      val r = got(u)
      assert(r.getAs[Long]("n_votes") == n)
      assert(r.getAs[String]("top_label") == topLabel, s"item $u majority label")
      assert(r.getAs[Long]("top_votes") == topVotes)
      assert(r.getAs[Long]("consensus_bp") == 10000 * topVotes / n)
      if (n < 2) assert(r.isNullAt(r.fieldIndex("pair_agree_bp")))
      else assert(r.getAs[Long]("pair_agree_bp") == 10000 * samePairs / (n * (n - 1)))
    }
  }

  test("q155 agreement bounds: consensus within [10000/k, 10000], pair agreement <= consensus") {
    AnnotationQueries.q155LabelConsolidation.fn(spark, sfDir).collect().foreach { r =>
      val consensus = r.getAs[Long]("consensus_bp")
      assert(consensus > 0 && consensus <= 10000)
      assert(r.getAs[Long]("top_votes") <= r.getAs[Long]("n_votes"))
      if (!r.isNullAt(r.fieldIndex("pair_agree_bp"))) {
        val pair = r.getAs[Long]("pair_agree_bp")
        // P_o is maximized when all votes agree; unanimous items hit both at 10000
        assert(pair >= 0 && pair <= 10000)
      }
    }
  }

  test("q156 Copeland points conserve: every pair awards exactly 2, matchup totals close") {
    val rows = AnnotationQueries.q156PreferenceCopeland.fn(spark, sfDir).collect()
    val k = rows.length
    assert(k >= 2, "needs at least two labels to rank")
    assert(rows.map(_.getAs[Long]("copeland_2x")).sum == k.toLong * (k - 1),
      "sum of copeland_2x must equal 2 * C(k,2)")
    val nItems = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    rows.foreach { r =>
      assert(r.getAs[Long]("matchups") == k - 1)
      assert(r.getAs[Long]("wins") + r.getAs[Long]("losses") +
        r.getAs[Long]("ties") == (k - 1) * nItems,
        "every item votes on every matchup (dense grid fills absent labels with 0)")
      assert(r.getAs[Long]("copeland_2x") <= 2L * (k - 1))
    }
  }

  test("q156 matches a driver-side matchup recompute") {
    val got = AnnotationQueries.q156PreferenceCopeland.fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    val labels = Seq("click", "error", "purchase", "signup", "view")

    val cents = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "value")
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        math.round(r.getDouble(2) * 100)))
      .groupBy(_._1)
      .map { case (key, vs) => key -> vs.map(_._2).sum }
      .withDefaultValue(0L)
    val users = cents.keys.map(_._1).toSeq.distinct

    val wins = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val ties = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    for (u <- users; a <- labels; b <- labels if a < b) {
      val (sa, sb) = (cents((u, a)), cents((u, b)))
      if (sa > sb) wins((a, b)) += 1
      else if (sb > sa) wins((b, a)) += 1
      else ties((a, b)) += 1
    }
    labels.foreach { t =>
      val w = labels.filter(_ != t).map(o => wins((t, o))).sum
      val l = labels.filter(_ != t).map(o => wins((o, t))).sum
      val cop = labels.filter(_ != t).map { o =>
        val (wt, wo) = (wins((t, o)), wins((o, t)))
        if (wt > wo) 2L else if (wt == wo) 1L else 0L
      }.sum
      val r = got(t)
      assert(r.getAs[Long]("wins") == w, s"$t wins")
      assert(r.getAs[Long]("losses") == l, s"$t losses")
      assert(r.getAs[Long]("copeland_2x") == cop, s"$t copeland")
    }
  }

  test("q186 Bradley-Terry matches an exact driver-side MM recompute") {
    val got = AnnotationQueries.q186BradleyTerry.fn(spark, sfDir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("games"), r.getAs[Long]("wins"), r.getAs[Long]("strength_ppm")))
      .toMap

    // replay the exact integer MM arithmetic from the collected
    // matchup matrix: BigInt mirrors DECIMAL(38,0), / on positive
    // BigInts mirrors `div`/`//`
    val m = AnnotationQueries.labelMatchups(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("wa"), r.getAs[Long]("wb")))
    val items = m.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val n = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val w = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    m.foreach { case (a, b, wa, wb) =>
      n((a, b)) = wa + wb; n((b, a)) = wa + wb
      w(a) += wa; w(b) += wb
    }
    val scale = BigInt("1000000000000")
    def step(s: Map[String, BigInt]): Map[String, BigInt] = {
      val raw = items.map { i =>
        val den = items.filter(_ != i).map { j =>
          val nij = BigInt(n((i, j)))
          if (nij == 0) BigInt(0) else nij * scale / (s(i) + s(j))
        }.sum
        i -> (if (den > 0) BigInt(w(i)) * scale / den else BigInt(1000000))
      }.toMap
      val tot = raw.values.sum
      val k = BigInt(items.size)
      raw.map { case (i, r) => i -> (r * k * 1000000 / tot).max(BigInt(1)) }
    }
    val s0 = items.map(_ -> BigInt(1000000)).toMap
    val expected = step(step(s0))

    assert(got.keySet == items.toSet, "one row per label")
    items.foreach { i =>
      val (games, wins, strength) = got(i)
      val g = items.filter(_ != i).map(j => n((i, j))).sum
      assert(games == g, s"$i decisive games")
      assert(wins == w(i), s"$i wins")
      assert(strength == expected(i).toLong, s"$i MM strength")
      assert(strength >= 1, s"$i strength positive")
    }
  }

  test("q237 matches a driver-side Fleiss/Krippendorff recompute from first principles") {
    val r = AnnotationQueries.q237AgreementKappa.fn(spark, sfDir).collect().head

    val votes = Tables.events(spark, sfDir)
      .select("user_id", "event_type").collect()
      .map(row => (row.getLong(0), row.getString(1)))
    val byItem = votes.groupBy(_._1).map { case (u, vs) =>
      u -> vs.groupBy(_._2).map { case (l, ls) => l -> ls.size.toLong }
    }.filter(_._2.values.sum >= 2)

    val poIs = byItem.values.map { c =>
      val n = c.values.sum; val sp = c.values.map(x => x * (x - 1)).sum
      1000000L * sp / (n * (n - 1))
    }
    val ocIs = byItem.values.map { c =>
      val n = c.values.sum; val sp = c.values.map(x => x * (x - 1)).sum
      1000000L * sp / (n - 1)
    }
    val nItems = byItem.size.toLong
    val tc = byItem.values.flatten
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
    val t = tc.values.sum
    val poMicro = poIs.sum / nItems
    val peMicro = (BigInt(1000000) * tc.values.map(x => BigInt(x) * x).sum /
      (BigInt(t) * t)).toLong
    val doMicro = 1000000L - ocIs.sum / t
    val deMicro = 1000000L - (BigInt(1000000) *
      tc.values.map(x => BigInt(x) * (x - 1)).sum / (BigInt(t) * (t - 1))).toLong
    def signedDiv(num: Long, den: Long): Long =
      if (num >= 0) num / den else -((-num) / den)
    val kappa = signedDiv(10000 * (poMicro - peMicro), 1000000 - peMicro)
    val alpha = signedDiv(10000 * (deMicro - doMicro), deMicro)

    assert(r.getAs[Long]("n_items") == nItems)
    assert(r.getAs[Long]("n_votes") == t)
    assert(r.getAs[Long]("n_labels") == tc.size.toLong)
    assert(r.getAs[Long]("po_micro") == poMicro)
    assert(r.getAs[Long]("pe_micro") == peMicro)
    assert(r.getAs[Long]("kappa_bp") == kappa)
    assert(r.getAs[Long]("do_micro") == doMicro)
    assert(r.getAs[Long]("de_micro") == deMicro)
    assert(r.getAs[Long]("alpha_bp") == alpha)
  }

  test("q237 fixture poles: unanimous items score kappa=alpha=10000; random labels score ~0") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_kappa")
    // 20 items × 3 raters, everyone agrees; two labels used across
    // items so chance agreement is not 1 (kappa would be 0/0 on a
    // single-label corpus — that degenerate pole is the NULL guard)
    val rows = for (i <- 0L until 20L; rtr <- 0 until 3) yield
      (i * 10 + rtr, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        i, if (i % 2 == 0) "click" else "view", 1.0, "{}")
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = AnnotationQueries.q237AgreementKappa.fn(spark, dir).collect().head
    assert(r.getAs[Long]("po_micro") == 1000000L)
    assert(r.getAs[Long]("kappa_bp") == 10000L, "unanimous => kappa 1.0")
    assert(r.getAs[Long]("alpha_bp") == 10000L, "unanimous => alpha 1.0")
    // the real corpus assigns labels independently of items, so both
    // coefficients must sit near zero (the chance-corrected point)
    val real = AnnotationQueries.q237AgreementKappa.fn(spark, sfDir).collect().head
    assert(math.abs(real.getAs[Long]("kappa_bp")) < 500,
      s"independent labels => kappa ~ 0, got ${real.getAs[Long]("kappa_bp")}")
    assert(math.abs(real.getAs[Long]("alpha_bp")) < 500,
      s"independent labels => alpha ~ 0, got ${real.getAs[Long]("alpha_bp")}")
  }

  test("q243 matches a driver-side rater recompute; a planted bad rater reads 0 hits") {
    // real corpus: exact recompute of hits-vs-majority per rater
    val votes = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_type",
        "cast(get_json_object(props, '$.k') as bigint) as rater")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val majority = votes.groupBy(_._1).map { case (item, vs) =>
      val byLabel = vs.groupBy(_._2).map { case (l, xs) => l -> xs.size }
      val top = byLabel.values.max
      item -> byLabel.filter(_._2 == top).keys.min
    }
    val perRater = votes.groupBy(_._3).map { case (r, vs) =>
      r -> (vs.size.toLong, vs.count(v => majority(v._1) == v._2).toLong)
    }
    val tv = perRater.values.map(_._1).sum
    val th = perRater.values.map(_._2).sum
    val got = AnnotationQueries.q243AnnotatorQuality.fn(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_votes"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("hit_bp"), r.getAs[Long]("dev_bp"))).toMap
    assert(got.keySet == perRater.keySet, "one row per attributed rater")
    perRater.foreach { case (r, (n, hit)) =>
      assert(got(r) == ((n, hit, 10000 * hit / n,
        10000 * hit / n - 10000 * th / tv)), s"rater $r")
    }

    // planted fixture: rater 99 contradicts every 3-rater consensus,
    // raters 1-3 always agree — the audit must separate them cleanly
    val dir = tempDir("graft_rater")
    val rows = for (i <- 0L until 10L; r <- Seq(1, 2, 3, 99)) yield
      (i * 10 + r, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        i, if (r == 99) "error" else "click", 1.0, s"""{"k": $r}""")
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val p = AnnotationQueries.q243AnnotatorQuality.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("hit_bp"), r.getAs[Long]("dev_bp"))).toMap
    assert(p(99L) == ((0L, -7500L)), s"bad rater must read 0 hits: $p")
    Seq(1L, 2L, 3L).foreach(r =>
      assert(p(r) == ((10000L, 2500L)), s"consensus rater $r: $p"))
  }
}
