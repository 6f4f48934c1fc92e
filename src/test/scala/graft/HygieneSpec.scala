package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Pins the round-4 hygiene/quantization surfaces: the native
  * unicode_normalize and quantize_i8 expressions (unit semantics the
  * oracle only exercises for one form), quantized-search quality vs
  * the float baseline, and the decontamination plan shape.
  */
class HygieneSpec extends SparkSpec {

  test("unicode_normalize NFC composes and NFKC expands ligatures") {
    GraftFunctions.register(spark)
    val dec = "cafe\u0301"   // decomposed: e + combining acute
    val pre = "caf\u00e9"    // precomposed
    val lig = "\ufb01sh"     // fi ligature: NFC keeps, NFKC expands
    val df = spark.createDataFrame(Seq(
      Tuple1(dec), Tuple1("plain ascii"), Tuple1(lig)
    )).toDF("s")
      .select(col("s"),
        GraftFunctions.unicodeNormalize(col("s"), "NFC").as("nfc"),
        GraftFunctions.unicodeNormalize(col("s"), "NFD").as("nfd"),
        GraftFunctions.unicodeNormalize(col("s"), "NFKC").as("nfkc"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val byIn = rows.map(t => t._1 -> t).toMap
    assert(byIn(dec)._2 == pre, "NFC must compose e+U+0301")
    assert(byIn(dec)._3 == dec, "NFD keeps the decomposed form")
    assert(byIn("plain ascii")._2 == "plain ascii")
    assert(byIn(lig)._2 == lig, "NFC preserves compatibility ligature")
    assert(byIn(lig)._4 == "fish", "NFKC expands compatibility ligature")
  }

  test("unicode_normalize rejects an unknown form at analysis time") {
    GraftFunctions.register(spark)
    val e = intercept[AnalysisException] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    assert(e.getMessage.contains("NFC"), s"unexpected: ${e.getMessage}")
  }

  test("unicode_normalize is null-safe") {
    GraftFunctions.register(spark)
    val out = spark.sql("SELECT unicode_normalize(CAST(NULL AS STRING), 'NFC')").collect()
    assert(out.head.isNullAt(0))
  }

  test("quantize_i8 emits integers in [-127, 127] with max-abs hitting ±127") {
    GraftFunctions.register(spark)
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), explode(GraftFunctions.quantizeI8(col("embedding"))).as("x"))
    val bad = q.filter(col("x") =!= floor(col("x")) ||
      abs(col("x")) > 127).count()
    assert(bad == 0, "quantized components must be integers within int8 range")
    // every vector's max |component| is exactly 127 (max-abs scaling)
    val maxes = q.groupBy(col("vec_id")).agg(max(abs(col("x"))).as("m"))
      .filter(col("m") =!= 127.0).count()
    assert(maxes == 0, "max-abs scaling must map the largest component to ±127")
  }

  test("quantized top-10 retains high recall vs the float baseline") {
    def topSets(name: String): Map[Long, Set[Long]] =
      Registry.byName(name).fn(spark, sfDir)
        .filter(col("q_id") < 10)
        .select(col("q_id"), col("n_id"))
        .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }
    val exact = topSets("q38_cosine_topk")
    val quant = topSets("q76_quantized_topk")
    assert(exact.nonEmpty && quant.keySet == exact.keySet)
    val recall = exact.map { case (q, want) =>
      quant(q).intersect(want).size.toDouble / want.size
    }.sum / exact.size
    assert(recall >= 0.9, s"int8 quantization recall@10 too low: $recall")
  }

  test("vector_sum aggregates element-wise and rejects mixed dimensions") {
    GraftFunctions.register(spark)
    val df = spark.createDataFrame(Seq(
      (1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 4.0f)), (2, Seq(5.0f, 6.0f))
    )).toDF("g", "v")
    val out = df.groupBy(col("g"))
      .agg(GraftFunctions.vectorSum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(out(1) == Seq(4.0, 6.0) && out(2) == Seq(5.0, 6.0))
    // partial+final ObjectHashAggregate (map-side combine before the exchange)
    val plan = df.groupBy(col("g"))
      .agg(GraftFunctions.vectorSum(col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    val bad = spark.createDataFrame(Seq(
      (1, Seq(1.0f)), (1, Seq(1.0f, 2.0f)))).toDF("g", "v")
    val e = intercept[Exception] {
      bad.groupBy(col("g")).agg(GraftFunctions.vectorSum(col("v"))).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("dimension mismatch"))
  }

  test("q72 decontamination: benchmark slice docs never appear in the output") {
    val out = Registry.byName("q72_decontamination").fn(spark, sfDir)
    assert(out.filter(col("doc_id") % 20 === 7).count() == 0)
    assert(out.filter(col("n_hits") > col("n_ngrams")).count() == 0)
  }

  test("q72 decontamination broadcasts the benchmark n-gram set") {
    val plan = Registry.byName("q72_decontamination").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side should be broadcast, got:\n$plan")
  }

  test("q73 keep flag equals its component thresholds") {
    val bad = Registry.byName("q73_repetition_quality").fn(spark, sfDir)
      .filter(
        (col("keep") === 1) =!= (col("top_word_bps") < 1500 && col("top_bigram_bps") < 800))
      .count()
    assert(bad == 0)
  }

  test("q74 redaction output contains no unredacted emails or phones") {
    val out = Registry.byName("q74_pii_redaction").fn(spark, sfDir)
    assert(out.filter(col("redacted_tail").rlike("@")
      && !col("redacted_tail").contains("<EMAIL>")).count() == 0)
    assert(out.filter(col("redacted_tail").rlike("555-[0-9]{4}")).count() == 0)
    assert(out.filter(col("n_emails") < 1 || col("n_phones") < 1).count() == 0,
      "every synthesized doc carries at least one email and one phone")
  }

  test("q150 duplicated-span coverage matches a driver-side interval-union recompute") {
    val rows = Registry.byName("q150_span_dedup").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.nonEmpty)
    // brute force: count span occurrences corpus-wide, union covered
    // intervals per doc with a plain sweep
    val K = 8
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val occ = scala.collection.mutable.Map.empty[String, Int]
    for ((_, w) <- docs; i <- 0 to w.length - K)
      occ.updateWith(w.slice(i, i + K).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    for ((id, w) <- docs if w.nonEmpty) {
      val starts = (0 to w.length - K)
        .filter(i => occ(w.slice(i, i + K).mkString(" ")) >= 2)
      val covered = starts.flatMap(i => i until i + K).distinct.size.toLong
      val (nTok, dupTok, dupBp) = rows(id)
      assert(nTok == w.length.toLong, s"n_tokens mismatch doc $id")
      assert(dupTok == covered, s"coverage mismatch doc $id: $dupTok != $covered")
      assert(dupBp == math.floor(10000.0 * covered / w.length).toLong,
        s"dup_bp mismatch doc $id")
    }
    // the fixture corpus must actually exercise the dup path
    assert(rows.values.exists(_._2 > 0), "no duplicated spans in fixture corpus")
  }

  test("q150 plans no corpus self-join: dup detection is count-then-semi-join") {
    val plan = Registry.byName("q150_span_dedup").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "span dedup must never plan a cartesian join")
    assert(plan.contains("LeftSemi"),
      "duplicated spans should flow back via a semi join on the span key")
  }

  /** Token-level suffix automaton with endpos occurrence counts — the
    * classic linear-time reference structure for exact-substring
    * questions. Returns, for every position p, the length of the
    * longest substring starting at p that occurs >= 2 times in the
    * sequence, capped at `cap` (q179's MaxDupLen contract).
    * Occurrence monotonicity (extending a substring can't add
    * occurrences) makes the greedy walk exact.
    */
  private def samLongestDupPrefix(
      tokens: IndexedSeq[String], cap: Int): Array[Int] = {
    val maxStates = 2 * tokens.length + 5
    val trans = Array.fill(maxStates)(
      scala.collection.mutable.Map.empty[String, Int])
    val link = Array.fill(maxStates)(-1)
    val len = Array.fill(maxStates)(0)
    val cnt = Array.fill(maxStates)(0L)
    var last = 0
    var size = 1
    for (ch <- tokens) {
      val cur = size; size += 1
      len(cur) = len(last) + 1
      cnt(cur) = 1
      var p = last
      while (p >= 0 && !trans(p).contains(ch)) {
        trans(p)(ch) = cur; p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p)(ch)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          trans(clone) ++= trans(q)
          link(clone) = link(q)
          cnt(clone) = 0L
          while (p >= 0 && trans(p).get(ch).contains(q)) {
            trans(p)(ch) = clone; p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
    }
    (0 until size).sortBy(-len(_)).foreach { v =>
      if (link(v) >= 0) cnt(link(v)) += cnt(v)
    }
    Array.tabulate(tokens.length) { p =>
      var st = 0
      var l = 0
      var j = p
      var done = false
      while (!done && j < tokens.length && l < cap) {
        trans(st).get(tokens(j)) match {
          case Some(nx) if cnt(nx) >= 2 => st = nx; l += 1; j += 1
          case _ => done = true
        }
      }
      l
    }
  }

  test("q179 variable-length spans match a driver-side suffix-automaton reference") {
    import spark.implicits._
    // fixture engineered around the contract's edges: an 80-token
    // clone (longer than MaxDupLen=64 — longest_span must still be
    // exact via start-chaining while longest_dup saturates at 64), a
    // WITHIN-doc repeated 12-token phrase, a 9-token phrase shared
    // doc3<->doc5, and a sub-8-token doc that can't host any span
    val span80 = (0 until 80).map(i => f"clone$i%02d")
    val phrase12 = (0 until 12).map(i => s"selfrep$i")
    val phrase9 = (0 until 9).map(i => s"shared$i")
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val docsTok = Seq(
      1L -> (filler("a", 20) ++ span80 ++ filler("c", 20)),
      2L -> (filler("b", 15) ++ span80 ++ filler("d", 25)),
      3L -> (filler("e", 10) ++ phrase12 ++ filler("f", 10) ++
        phrase12 ++ phrase9 ++ filler("g", 5)),
      4L -> filler("h", 6),
      5L -> (filler("k", 14) ++ phrase9 ++ filler("m", 11)))
    val dir = tempDir("graft_exsub")
    docsTok.map { case (id, w) =>
      (id, w.mkString(" "), "en", "src0", w.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference: SAM over the docs joined by UNIQUE separator tokens
    // (a separator occurs once, so no duplicated substring crosses it)
    val cap = 64
    val flat = scala.collection.mutable.ArrayBuffer.empty[String]
    val posOf = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    docsTok.zipWithIndex.foreach { case ((id, w), di) =>
      if (di > 0) { flat += s"sep$di"; posOf += ((-1L, -1)) }
      w.zipWithIndex.foreach { case (t, i) => flat += t; posOf += ((id, i)) }
    }
    val lcpAll = samLongestDupPrefix(flat.toIndexedSeq, cap)
    val byDoc = posOf.zip(lcpAll).collect {
      case ((id, i), l) if id >= 0 => (id, i, l)
    }.groupBy(_._1)
    val K = 8
    val expect = docsTok.map { case (id, w) =>
      val ls = byDoc.getOrElse(id, Seq.empty).sortBy(_._2)
      val starts = ls.collect { case (_, i, l) if l >= K => (i, l) }
      // interval merge with the i > pmax island rule (q179 contract)
      var spans = List.empty[(Int, Int)]
      starts.foreach { case (i, l) =>
        spans match {
          case (s0, e0) :: rest if i <= e0 =>
            spans = (s0, math.max(e0, i + l)) :: rest
          case _ => spans = (i, i + l) :: spans
        }
      }
      val nSpans = spans.length.toLong
      val dupTok = spans.map { case (s0, e0) => e0 - s0 }.sum.toLong
      val longestSpan =
        if (spans.isEmpty) 0L else spans.map { case (s0, e0) => e0 - s0 }.max.toLong
      val longestDup = if (ls.isEmpty) 0L else ls.map(_._3).max.toLong
      id -> (w.length.toLong, nSpans, dupTok, longestSpan, longestDup)
    }.toMap
    val got = Registry.byName("q179_exactsubstr_spans").fn(spark, dir)
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      }.toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }
    // the edges actually fired: the 80-token clone spans exactly 80
    // (exceeding the cap) while its longest_dup reads the 64 cap, and
    // the within-doc repeat was caught
    assert(got(1L)._4 == 80L, "80-token clone must yield an 80-token span")
    assert(got(1L)._5 == 64L, "longest_dup saturates at MaxDupLen")
    assert(got(3L)._3 >= 24L, "within-doc repeated phrase must be covered twice")
    assert(got(4L) == (6L, 0L, 0L, 0L, 0L), "sub-K doc hosts no spans")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q180 boilerplate catalog matches a driver-side span recount") {
    val rows = Registry.byName("q180_boilerplate_catalog").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // shape: 8-token spans, occ >= max(2, n_docs), sorted (occ DESC, span)
    rows.foreach { case (sp, occ, nd) =>
      assert(sp.split(" ").length == 8, s"span not 8 tokens: '$sp'")
      assert(occ >= 2 && occ >= nd && nd >= 1, s"counts wrong: $occ/$nd")
    }
    assert(rows.sliding(2).forall {
      case Array((s1, o1, _), (s2, o2, _)) => o1 > o2 || (o1 == o2 && s1 < s2)
      case _ => true
    }, "not sorted by (occ DESC, span)")
    // driver recount of the top span over the raw corpus
    val (topSpan, topOcc, topDocs) = rows.head
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val hits = for {
      (id, w) <- docs; i <- 0 to w.length - 8
      if w.slice(i, i + 8).mkString(" ") == topSpan
    } yield id
    assert(hits.length.toLong == topOcc, s"top-span occ: $topOcc vs ${hits.length}")
    assert(hits.distinct.length.toLong == topDocs)
    // and no span in the corpus beats the reported top occurrence
    val occAll = scala.collection.mutable.Map.empty[String, Long]
    for ((_, w) <- docs; i <- 0 to w.length - 8)
      occAll.updateWith(w.slice(i, i + 8).mkString(" "))(c => Some(c.getOrElse(0L) + 1L))
    assert(occAll.values.max == topOcc, "a more frequent span was missed")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q179 coverage equals q150's fixed-K coverage (the union identity)") {
    // Provable identity: the union of [i, i+lcp_i) over lcp_i >= K
    // equals the union of duplicated K-windows — any position inside
    // a >=K duplicated span sits in a duplicated K-window and vice
    // versa. Pinning it ties the variable-length machinery (suffix
    // sort + neighbor LCP) to q150's independent count-then-semi-join
    // machinery over the whole corpus.
    val cov150 = Registry.byName("q150_span_dedup").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cov179 = Registry.byName("q179_exactsubstr_spans").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cov150.keySet == cov179.keySet)
    cov150.foreach { case (id, c) =>
      assert(cov179(id) == c, s"doc $id: q179 ${cov179(id)} != q150 $c")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q179 plans no global suffix-sort window and no cartesian join") {
    val plan = Registry.byName("q179_exactsubstr_spans").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "suffix adjacency must never plan a cartesian join")
    // the neighbor lag/lead must ride Neighbors' __pid-partitioned
    // windows; an unpartitioned window ordered by the suffix string
    // (s#N first in the spec) is the single-reducer regression
    val bad = """windowspecdefinition\(s#\d+ ASC""".r
    assert(bad.findFirstIn(plan).isEmpty,
      "q179 regressed to a global ORDER BY suffix window")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q207 cross-contamination: planted bench overlap found, train-train duplication ignored") {
    import spark.implicits._
    // the defining distinction vs q179: only TRAIN↔BENCH verbatim
    // overlap counts — a 10-token phrase duplicated between two train
    // docs must report ZERO contamination, while 12- and 9-token
    // phrases shared with bench docs (doc_id % 20 = 7) must surface
    // as exact merged spans (one at doc start, one at bench-doc end,
    // covering both boundary shapes)
    val phrase12 = (0 until 12).map(i => s"evalp$i")
    val phrase9 = (0 until 9).map(i => s"evalq$i")
    val trainDup10 = (0 until 10).map(i => s"traind$i")
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val docs = Seq(
      7L -> (filler("b7", 10) ++ phrase12 ++ filler("c7", 10)), // bench
      27L -> (filler("b27", 8) ++ phrase9), // bench, phrase at doc end
      1L -> (filler("t1", 20) ++ phrase12 ++ filler("u1", 5)),
      2L -> (filler("t2", 6) ++ trainDup10 ++ filler("u2", 4)),
      3L -> (phrase9 ++ filler("t3", 15)), // overlap at doc start
      4L -> (filler("t4", 5) ++ trainDup10))
    val dir = tempDir("graft_xcontam")
    docs.map { case (id, w) =>
      (id, w.mkString(" "), "en", "src0", w.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("q207_cross_contamination").fn(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "bench docs must not be reported")
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_spans") == 1L &&
      d1.getAs[Long]("contaminated_tokens") == 12L &&
      d1.getAs[Long]("longest_overlap") == 12L, s"doc 1: $d1")
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_spans") == 1L &&
      d3.getAs[Long]("contaminated_tokens") == 9L &&
      d3.getAs[Long]("longest_overlap") == 9L, s"doc 3: $d3")
    Seq(2L, 4L).foreach { id =>
      assert(out(id).getAs[Long]("n_spans") == 0L &&
        out(id).getAs[Long]("contaminated_tokens") == 0L,
        s"train-train dup wrongly flagged as contamination: ${out(id)}")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q207 plans no global suffix-sort window and no cartesian join") {
    val plan = Registry.byName("q207_cross_contamination").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "cross-side suffix adjacency must never plan a cartesian join")
    // the nearest-non-null scans must ride withNearestNonNull's
    // __pid-partitioned windows; an unpartitioned window ordered by
    // the suffix string (s2#N first in the spec) is the
    // single-reducer regression
    val bad = """windowspecdefinition\(s2#\d+ ASC""".r
    assert(bad.findFirstIn(plan).isEmpty,
      "q207 regressed to a global ORDER BY suffix window")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q213 Kneser-Ney matches an exact driver recompute and normalizes per context") {
    val got = Registry.byName("q213_kneser_ney").fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    def bigrams(w: Array[String]) =
      w.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    val m = docs.filter(_._1 % 2 == 0).flatMap(d => bigrams(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ml = m.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.size.toLong)).toMap
    val mr = m.toSeq.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val T = m.size.toLong
    // the KN normalization identity, in EXACT integers: for every seen
    // context l, the numerators over all continuation-seen r sum to
    // the denominator 4·c_l·T (probabilities sum to 1 — the property
    // that makes the discount+backoff a distribution, not a heuristic)
    ml.foreach { case (l, (cl, n1l)) =>
      val num = mr.valuesIterator.map(n1r => 3L * n1l * n1r).sum +
        m.collect { case ((`l`, _), c) => (4 * c - 3) * T }.sum
      assert(num == 4 * cl * T, s"context '$l' not normalized")
    }
    // exact per-doc recompute with the same integer-ratio ln
    val expect = docs.filter(_._1 % 2 == 1).flatMap { case (id, w) =>
      val lpvs = bigrams(w).flatMap { case (l, r) =>
        for ((cl, n1l) <- ml.get(l); n1r <- mr.get(r)) yield {
          val c = m.getOrElse((l, r), 0L)
          val num = math.max(4 * c - 3, 0L) * T + 3 * n1l * n1r
          math.floor(1e6 * math.log(num.toDouble / (4.0 * cl * T))).toLong
        }
      }
      if (lpvs.isEmpty) None
      else {
        val s = -lpvs.sum
        Some(id -> ((lpvs.size.toLong, s, s / lpvs.size)))
      }
    }.toMap
    assert(got == expect)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q151 DSIR weights: flag consistency and target slice scores higher") {
    val out = Registry.byName("q151_dsir_weights").fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(3) >= 0L),
        s"targetlike flag inconsistent: $r")
      assert(r.getLong(2) > 0, s"doc with zero scored tokens: $r")
    }
    // model sanity: the mean importance weight of the target slice
    // (en) must exceed the mean weight of every other language — the
    // defining property of an importance-resampling score fit ON that
    // slice. Per-token averaging removes doc-length confounds.
    val byLang = out.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> rs.map(r => r.getLong(3).toDouble / r.getLong(2)).sum / rs.size
    }
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, avg) =>
      assert(en > avg, s"target slice en ($en) not above $l ($avg)")
    }
  }

  test("q197 removal: kept = n_tokens − q179 coverage, md5 gates the text, and cleaning is idempotent") {
    import graft.queries.HygieneQueries
    val rm = Registry.byName("q197_exactsubstr_removal").fn(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rep = Registry.byName("q179_exactsubstr_spans").fn(spark, sfDir)
      .collect()
    assert(rep.length == rm.size)
    rep.foreach { r =>
      val c = rm(r.getAs[Long]("doc_id"))
      // the cross-query identity: removal keeps exactly what the
      // report says isn't covered by merged duplicated spans
      assert(c.getAs[Long]("kept_tokens") ==
        r.getAs[Long]("n_tokens") - r.getAs[Long]("dup_tokens"),
        s"doc ${r.get(0)}: kept ${c.get(2)} != ${r.get(1)} - ${r.get(3)}")
      val txt = c.getAs[String]("clean_text")
      assert(c.getAs[Long]("kept_tokens") ==
        (if (txt.isEmpty) 0 else txt.split(" ").length).toLong)
      assert(c.getAs[String]("clean_md5") ==
        java.security.MessageDigest.getInstance("MD5")
          .digest(txt.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
    // idempotence — Lee et al.'s fixed point: the cleaned corpus has
    // NO remaining ≥8-token duplicated span, so cleaning again is the
    // identity (re-tokenization is stable because the rejoin is
    // already single-space normalized)
    import spark.implicits._
    val cleaned = rm.values.toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text")))
      .toDF("doc_id", "text")
    val again = HygieneQueries.removalSpans(
      HygieneQueries.suffixLcp(HygieneQueries.tokenized(cleaned), 64), 8)
    assert(again.count() == 0L,
      s"cleaned corpus still has removal spans: ${again.collect().mkString(",")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("maxSuffix cap conf: coverage exact at both settings, longest_dup saturates only below the clone length") {
    import spark.implicits._
    import graft.queries.HygieneQueries
    // two docs sharing an 80-token clone — longer than the default
    // 64-token suffix cap
    val span80 = (0 until 80).map(i => f"clone$i%02d")
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val tok = Seq(
      1L -> (filler("a", 20) ++ span80 ++ filler("c", 20)),
      2L -> (filler("b", 15) ++ span80 ++ filler("d", 25)))
      .toDF("doc_id", "w")
    def run(cap: Int) = {
      val lcp = HygieneQueries.suffixLcp(tok, cap)
      val spans = HygieneQueries.removalSpans(lcp, 8).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("s"), r.getAs[Long]("e"))).toSet
      val longest = lcp.agg(max(col("l"))).collect()(0).getLong(0)
      (spans, longest)
    }
    val (sp64, ld64) = run(64)
    val (sp128, ld128) = run(128)
    // coverage/spans are EXACT at either cap (dup starts chain past
    // the truncation); only longest_dup saturates at the 64 cap
    assert(sp64 == Set((1L, 20L, 100L), (2L, 15L, 95L)), sp64.toString)
    assert(sp128 == sp64)
    assert(ld64 == 64L && ld128 == 80L, s"$ld64 / $ld128")
    // and the session conf reaches the memoized corpus path: a
    // distinct cap is a distinct memo entry with the exact LCP
    val dir = tempDir("graft_maxsfx")
    tok.select(col("doc_id"), array_join(col("w"), " ").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(array_join(col("w"), " ")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val defMax = HygieneQueries.corpusSuffixLcp(spark, dir)
      .agg(max(col("l"))).collect()(0).getLong(0)
    assert(defMax == 64L, s"default-cap corpus longest_dup $defMax")
    spark.conf.set(HygieneQueries.MaxSuffixConf, "128")
    try {
      val bigMax = HygieneQueries.corpusSuffixLcp(spark, dir)
        .agg(max(col("l"))).collect()(0).getLong(0)
      assert(bigMax == 80L, s"cap-128 corpus longest_dup $bigMax")
    } finally spark.conf.unset(HygieneQueries.MaxSuffixConf)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q245 blocklist audit matches a driver recompute; phrases fire only on ADJACENT tokens") {
    val got = Registry.byName("q245_blocklist_filter").fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val terms = Set("merge", "drop", "vacuum")
    val phrases = Set("order fast", "stream column")
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase
        .split(" ").filter(_.nonEmpty)))
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val per = ds.map { case (_, t) =>
        val th = t.count(terms)
        val ph = t.iterator.zip(t.iterator.drop(1))
          .count { case (x, y) => phrases(s"$x $y") }
        (th.toLong, ph.toLong)
      }
      src -> (ds.length.toLong, per.count(p => p._1 + p._2 > 0).toLong,
        per.map(_._1).sum, per.map(_._2).sum)
    }
    want.foreach { case (src, (n, fl, th, ph)) =>
      assert(got(src) == ((n, fl, th, ph, 10000L * fl / n)),
        s"$src: got ${got(src)}, want ($n, $fl, $th, $ph)")
    }
    // rollup row sums the sources
    val tot = got("*")
    assert(tot._1 == want.values.map(_._1).sum &&
      tot._2 == want.values.map(_._2).sum &&
      tot._3 == want.values.map(_._3).sum &&
      tot._4 == want.values.map(_._4).sum, s"rollup drifted: $tot")
    // fixture has signal: at least one term and one phrase hit somewhere
    assert(tot._3 > 0 && tot._4 > 0, s"blocklist fixture lost its hits: $tot")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q245 phrase matching never fires across a shuffled word bag (adjacency contract)") {
    import spark.implicits._
    val dir = tempDir("graft_bl")
    Seq(
      (1L, "please order fast now", "s1"), // phrase adjacent -> fires
      (2L, "order it fast there", "s1"), // words present, not adjacent
      (3L, "merge sort then DROP", "s2"), // terms, case-folded
      (4L, "clean row", "s2"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q245_blocklist_filter").fn(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got("s1") == ((1L, 0L, 1L)), s"s1: ${got("s1")}") // only doc 1 flagged
    assert(got("s2") == ((1L, 2L, 0L)), s"s2: ${got("s2")}") // merge+drop, no phrase
    spark.sharedState.cacheManager.clearCache()
  }

  test("q250 prefix sharing matches a driver recompute; groups split and hits shrink as depth grows") {
    val rows = Registry.byName("q250_prefix_sharing").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set(8L, 16L, 32L))
    val docs = Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
      .filter(_.nonEmpty)
    Seq(8, 16, 32).foreach { k =>
      val groups = docs.groupBy(_.take(k).mkString(" "))
        .view.mapValues(_.length.toLong).toMap
      val n = docs.length.toLong
      val sharing = groups.values.filter(_ >= 2).sum
      val want = (n, groups.size.toLong, sharing, 10000L * sharing / n,
        n - groups.size)
      assert(rows(k.toLong) == want,
        s"depth $k: got ${rows(k.toLong)}, want $want")
    }
    // structural monotonicity: deeper prefixes only SPLIT groups
    val byDepth = Seq(8L, 16L, 32L).map(rows)
    assert(byDepth.map(_._2).sliding(2).forall { case Seq(a, b) => b >= a },
      s"n_groups must be non-decreasing in depth: $byDepth")
    assert(byDepth.map(_._5).sliding(2).forall { case Seq(a, b) => b <= a },
      s"cache_hits must be non-increasing in depth: $byDepth")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q250 planted shared prefixes are counted at the right depths") {
    import spark.implicits._
    val dir = tempDir("graft_pfx")
    val stem8 = (1 to 8).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, stem8 + " alpha beta gamma", "en", "s", 1L),
      (2L, stem8 + " delta epsilon zeta", "en", "s", 1L), // shares ONLY at depth 8
      (3L, "unique one two three four five six seven", "en", "s", 1L),
      (4L, "short doc", "en", "s", 1L),
      (5L, "short doc", "en", "s", 1L)) // exact short dup: shares at EVERY depth
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Registry.byName("q250_prefix_sharing").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(5))).toMap
    assert(rows(8L) == ((4L, 2L)), // docs 1+2 and 4+5 share; 2 cold fills saved
      s"depth 8: ${rows(8L)}")
    assert(rows(16L) == ((2L, 1L)), // only the short dups still share
      s"depth 16: ${rows(16L)}")
    assert(rows(32L) == ((2L, 1L)), s"depth 32: ${rows(32L)}")
    spark.sharedState.cacheManager.clearCache()
  }
}
