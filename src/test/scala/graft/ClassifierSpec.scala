package graft

import org.apache.spark.sql.functions._

/** Semantics of the in-engine trained classifiers (q199 Naive Bayes):
  * exact driver-side recompute of the fit→apply pipeline plus a
  * separable-vocabulary fixture where the optimal answer is known.
  */
class ClassifierSpec extends SparkSpec {

  /** Driver-side multinomial NB with the exact q199 contract:
    * Laplace-smoothed micro log-probs (floor(1e6·ln p)), priors from
    * even-doc_id class counts, OOV tokens ignored, argmax with
    * (score desc, lang asc) tiebreak. Returns (doc_id, pred, score).
    */
  private def nbRecompute(dir: String): Map[Long, (String, Long)] = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[String] = t.split(" ").filter(_.nonEmpty).toSeq
    val train = docs.filter(_._1 % 2 == 0)
    val nAll = train.length.toLong
    val clsDocs = train.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cnt = train.flatMap { case (_, l, t) => toks(t).map((l, _)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ltot = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val vocab = cnt.keySet.map(_._2)
    val v = vocab.size.toLong
    val lp: Map[(String, String), Long] = (for {
      t <- vocab; l <- clsDocs.keys
    } yield (l, t) -> math.floor(1000000.0 *
      math.log((cnt.getOrElse((l, t), 0L) + 1.0) / (ltot(l) + v))).toLong).toMap
    val prior = clsDocs.map { case (l, n) =>
      l -> math.floor(1000000.0 * math.log(n.toDouble / nAll)).toLong
    }
    docs.filter(_._1 % 2 == 1).flatMap { case (id, _, t) =>
      val ts = toks(t).filter(vocab)
      if (ts.isEmpty) None
      else {
        val scores = clsDocs.keys.map { l =>
          l -> (ts.map(tk => lp((l, tk))).sum + prior(l))
        }.toSeq
        val (pl, ps) = scores.minBy { case (l, sc) => (-sc, l) }
        Some(id -> (pl, ps))
      }
    }.toMap
  }

  test("q199 matches a driver-side exact NB recompute") {
    val got = Registry.byName("q199_naive_bayes_langid").fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    val want = nbRecompute(sfDir)
    assert(got == want)
  }

  test("q199 output invariants: held-out rows, labels consistent, scores negative") {
    val rows = Registry.byName("q199_naive_bayes_langid").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 2 == 1), "only held-out (odd) docs are scored")
    assert(rows.forall { case (_, lang, pred, _, c) =>
      c == (if (pred == lang) 1L else 0L)
    })
    // log-probs and log-priors are all negative micros
    assert(rows.forall(_._4 < 0L))
  }

  test("q204 held-out perplexity matches a driver-side exact recompute") {
    val got = Registry.byName("q204_heldout_perplexity").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def bigrams(t: String): Seq[(String, String)] = {
      val ts = t.split(" ").filter(_.nonEmpty).toSeq
      ts.zip(ts.drop(1))
    }
    val trbi = docs.filter(_._1 % 2 == 0).flatMap(d => bigrams(d._2))
    val voc = (trbi.map(_._1) ++ trbi.map(_._2)).toSet
    val v = voc.size.toLong
    val m = trbi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ml = m.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def lp(l: String, r: String): Long = {
      val c = m.getOrElse((l, r), 0L)
      math.floor(1000000.0 * math.log((c + 1.0) / (ml(l) + v))).toLong
    }
    val want = docs.filter(_._1 % 2 == 1).flatMap { case (id, t) =>
      val bs = bigrams(t).filter { case (l, r) =>
        voc(l) && voc(r) && ml.contains(l)
      }
      if (bs.isEmpty) None
      else {
        val s = bs.map { case (l, r) => lp(l, r) }.sum
        Some((id, bs.length.toLong, -s, -s / bs.length))
      }
    }.sortBy(_._1).toSeq
    assert(got == want)
  }

  test("q204 unseen bigrams score strictly below seen ones per left token") {
    // the smoothing contract: for a fixed left token l, an UNSEEN
    // continuation's floor 1/(c_l+V) is strictly below any seen
    // (c+1)/(c_l+V) — the filter can never rank an unseen sequence
    // as more likely than an observed one
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val trbi = docs.filter(_._1 % 2 == 0).flatMap { case (_, t) =>
      val ts = t.split(" ").filter(_.nonEmpty).toSeq; ts.zip(ts.drop(1))
    }
    val m = trbi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ml = m.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = (trbi.map(_._1) ++ trbi.map(_._2)).toSet.size.toLong
    ml.keys.take(50).foreach { l =>
      val floorLp = math.floor(1000000.0 * math.log(1.0 / (ml(l) + v))).toLong
      val seen = m.collect { case ((`l`, _), c) =>
        math.floor(1000000.0 * math.log((c + 1.0) / (ml(l) + v))).toLong }
      assert(seen.forall(_ > floorLp), s"floor must undercut seen lps for $l")
    }
  }

  test("q205 next-event eval matches a driver-side recompute") {
    val got = Registry.byName("q205_next_event_eval").fn(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val tr = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      // full-precision ordering: getTime alone is ms and would tie
      // where the engine's timestamp (micros) doesn't
      val s = es.sortBy(e =>
        ((e._2.getTime / 1000) * 1000000000L + e._2.getNanos, e._3))
        .map(_._4).toSeq
      s.zip(s.drop(1)).map { case (f, t) => (u, f, t) }
    }
    val model = tr.filter(_._1 % 2 == 0).groupBy(t => (t._2, t._3))
      .view.mapValues(_.size.toLong).toMap
    val pred = model.keys.map(_._1).toSet.map { (f: String) =>
      f -> model.collect { case ((`f`, t), n) => (t, n) }
        .minBy { case (t, n) => (-n, t) }._1
    }.toMap
    val want = tr.filter(_._1 % 2 == 1)
      .filter(t => pred.contains(t._2))
      .groupBy(_._2).toSeq.map { case (f, ts) =>
        val hits = ts.count(t => t._3 == pred(f)).toLong
        (f, pred(f), ts.size.toLong, hits,
          10000L * hits / ts.size)
      }.sortBy(_._1)
    assert(got == want)
  }

  test("q199 separable-vocabulary fixture classifies perfectly") {
    import spark.implicits._
    // two classes with disjoint vocabularies; train = even ids,
    // held-out = odd ids. NB must recover both classes exactly.
    val rows = Seq(
      (0L, "aa aa bb aa", "A"), (2L, "aa bb bb", "A"), (4L, "aa aa", "A"),
      (10L, "xx yy xx xx", "B"), (12L, "yy yy xx", "B"),
      (1L, "aa bb aa", "A"), (3L, "bb aa", "A"),
      (11L, "xx xx yy", "B"), (13L, "yy xx", "B"))
    val dir = tempDir("graft_nb")
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q199_naive_bayes_langid").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(4))).toSeq
    assert(got == Seq((1L, "A", 1L), (3L, "A", 1L),
      (11L, "B", 1L), (13L, "B", 1L)), s"got $got")
  }

  test("q248 grid invariants on the corpus: complete class grid, zero diagonal noise, confident <= total") {
    val rows = Registry.byName("q248_label_noise").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val givens = rows.map(_._1).distinct.sorted
    val preds = rows.map(_._2).distinct.sorted
    assert(rows.length == givens.length * preds.length,
      s"grid incomplete: ${rows.length} cells for ${givens.length}x${preds.length}")
    rows.foreach { case (g, p, n, conf, noise) =>
      assert(conf >= 0 && conf <= n, s"($g,$p): confident out of range")
      if (g == p) assert(noise == 0L, s"diagonal must carry no noise: ($g,$p)")
      else assert(noise == conf, s"off-diagonal noise must equal confident count")
    }
    // every given row scores each class on the same doc universe
    givens.foreach { g =>
      val ns = rows.filter(_._1 == g).map(_._3).distinct
      assert(ns.length == 1, s"given $g sees differing doc universes: $ns")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q248 flags a planted mislabeled document toward its true class") {
    import spark.implicits._
    // identical texts within each class make every genuine doc's
    // self-score EQUAL to its class threshold (mean), so the planted
    // doc — B-labeled but carrying pure A text — clears class A's
    // threshold exactly and must land in the (B given, A pred) cell;
    // genuine B docs' A-scores are OOV-smoothed far below it.
    val a = "aa bb cc dd"
    val b = "xx yy zz ww"
    val rows =
      (0 until 10).map(i => (i * 2L, a, "A")) ++ // train A
      (0 until 10).map(i => (100L + i * 2, b, "B")) ++ // train B
      (0 until 5).map(i => (i * 2 + 1L, a, "A")) ++ // held-out A
      (0 until 5).map(i => (101L + i * 2, b, "B")) ++ // held-out B
      Seq((201L, a, "B")) // PLANTED: A text, B label, held out
    val dir = tempDir("graft_cl")
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val grid = Registry.byName("q248_label_noise").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(4))).toMap
    assert(grid(("B", "A"))._2 >= 1L,
      s"planted mislabel not flagged: $grid")
    assert(grid(("A", "B"))._2 == 0L,
      s"clean class A spuriously flagged toward B: $grid")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q239 detects the planted code-switch that per-doc lang ID misses") {
    val dir = tempDir("graft_cswitch")
    val en = "the of and to in is a the of and"   // 10 tokens, en stopwords
    val es = "el la de y en es un el la de"       // 10 tokens, es stopwords
    val rows = Seq(
      (1L, s"$en $es", "xx"),   // two windows: en then es -> 1 switch
      (2L, en, "en"),           // one window: pure en, no switch
      (3L, s"$en $en $es", "xx")) // three windows: en en es -> 1 switch, dom en 2/3
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q239_code_switch").fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_switches"), r.getAs[Long]("n_langs"),
        r.getAs[String]("dom_lang"), r.getAs[Long]("dom_share_bp"))).toMap
    assert(got(1L) == ((2L, 1L, 2L, "en", 5000L)),
      s"mixed doc must report the switch (en tie-priority on the 1-1 split): ${got(1L)}")
    assert(got(2L) == ((1L, 0L, 1L, "en", 10000L)), s"pure doc: ${got(2L)}")
    assert(got(3L) == ((3L, 1L, 2L, "en", 6666L)),
      s"2/3-en doc: ${got(3L)}")
    // the per-doc q30 argmax on doc 1 can only answer ONE language —
    // the window audit is what exposes the 50/50 composition
    val q30 = Registry.byName("q30_langid").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(q30(1L) == "en" || q30(1L) == "es")
  }
}
