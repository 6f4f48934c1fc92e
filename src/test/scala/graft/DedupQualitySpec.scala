package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Algorithm-quality checks the DuckDB oracle can't express
  * (SURVEY.md §5): LSH recall against brute force, SimHash banding
  * exactness, IVF recall, HLL tolerance. All at sf0.001 where brute
  * force is cheap.
  */
class DedupQualitySpec extends SparkSpec {

  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(c, " "), t => length(t) > 0)

  /** Brute-force word-3-gram Jaccard pairs ≥ threshold. */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordNgrams(toks(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.alias("a").crossJoin(sh.alias("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= threshold)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash-LSH finds every high-similarity pair (recall ≈ 1 at j ≥ 0.9)") {
    val got = Registry.byName("q34_minhash_lsh").fn(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = brutePairs(0.9)
    assert(want.nonEmpty, "corpus should contain planted near-dups")
    // 16 bands × 4 rows: P(miss | j≥0.9) ≈ 3e-8 per pair
    assert(want.subsetOf(got),
      s"LSH missed high-sim pairs: ${want.diff(got)}")
  }

  test("minhash-LSH output is a subset of brute force at the 0.8 threshold (precision 1)") {
    val got = Registry.byName("q34_minhash_lsh").fn(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = brutePairs(0.8)
    assert(got.subsetOf(want), s"false positives: ${got.diff(want)}")
  }

  test("simhash banding is exact for hamming ≤ 6 (pigeonhole over 8 bands)") {
    // brute-force simhash distances vs the banded join's results
    val sim = Registry.byName("q35_simhash").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    // recompute simhashes directly and brute-force pairs
    val hs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .select(col("doc_id"),
        graft.queries.DedupQueries.simhashTokenHash64(col("t")).as("h"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(63))).as("i"))
      .select(col("doc_id"), col("i"),
        expr("IF((shiftright(h, i) & 1) = 1, 1L, -1L)").as("sgn"))
      .groupBy(col("doc_id"), col("i")).agg(sum(col("sgn")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("IF(v > 0, shiftleft(1L, i), 0L)")).as("simhash"))
    val brute = hs.alias("a").crossJoin(hs.alias("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.simhash ^ b.simhash)").as("d"))
      .filter(col("d") <= 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(sim == brute,
      s"banded join != brute force: missing=${brute.diff(sim)} extra=${sim.diff(brute)}")
  }

  test("IVF ANN attains useful recall@10 against brute-force top-10") {
    val brute = Registry.byName("q38_cosine_topk").fn(spark, sfDir)
    val ann = Registry.byName("q39_ann_ivf").fn(spark, sfDir)
    // q38 queries vec_id<20, q39 queries 20..29 — recompute brute for
    // the ANN query ids via the same plan shape on the raw table
    import graft.functions.VectorFunctions
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    val q = t.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cs").desc, col("vec_id"))
    val bruteAnn = t.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cs", VectorFunctions.cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = ann.select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = annPairs.intersect(bruteAnn).size.toDouble / bruteAnn.size
    // Lloyd-trained centroids (4 iterations) + nprobe=4/16 cells:
    // recall well above the untrained-seed 0.25 floor of round 1
    assert(recall >= 0.7, f"IVF recall@10 too low: $recall%.2f")
    // exact-rerank property: every emitted cos_sim is the true cosine
    // for that (q_id, n_id) pair — the approximation is ONLY in which
    // candidates get probed, never in the scores
    val trueCos = t.alias("q").join(t.alias("n"),
        col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("n.vec_id").as("n_id"),
        round(VectorFunctions.cosine(col("q.v"), col("n.v")), 6).as("tc"))
    val drift = ann.join(trueCos, Seq("q_id", "n_id"))
      .filter(abs(round(col("cos_sim"), 6) - col("tc")) > 1e-6)
    assert(drift.count() == 0, "ANN emitted a cos_sim != true pair cosine")
    // sanity: brute top-k exists for every query
    assert(brute.count() > 0)
  }

  test("q210 recall eval ties out to an independent brute-force/IVF intersection") {
    import graft.functions.VectorFunctions
    val got = Registry.byName("q210_ann_recall").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // independent: exact top-10 per query via the window plan shape,
    // intersected with q39's emitted ids — the metric q210 must equal
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    val q = t.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cs").desc, col("vec_id"))
    val exact = t.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cs", VectorFunctions.cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Registry.byName("q39_ann_ivf").fn(spark, sfDir)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.keySet == exact.map(_._1), "one row per eval query")
    got.foreach { case (qid, (nExact, nHit, bp)) =>
      val ex = exact.filter(_._1 == qid)
      val hits = ex.intersect(ann).size.toLong
      assert(nExact == ex.size.toLong && nHit == hits &&
        bp == 10000L * hits / ex.size,
        s"q $qid: got ($nExact,$nHit,$bp), want (${ex.size},$hits)")
    }
    // the index is actually useful on this corpus (the 0.7 gate)
    val mean = got.values.map(_._3).sum / got.size
    assert(mean >= 7000L, s"mean recall@10 $mean bp below the 0.7 gate")
    spark.sharedState.cacheManager.clearCache()
  }

  /** Driver-side replica of q215's chunker: boundary before token i
    * iff i = 0 or portable_hash64(t_i) ≡ 0 (mod 16).
    */
  private def cdcChunks(toks: Seq[String]): Seq[Seq[String]] = {
    import org.apache.spark.unsafe.types.UTF8String
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[String]
    toks.zipWithIndex.foreach { case (t, i) =>
      val h = graft.plans.PortableHash64.hash(UTF8String.fromString(t))
      val boundary = i == 0 || java.lang.Math.floorMod(h, 16L) == 0L
      if (boundary && cur.nonEmpty) { out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty }
      cur += t
    }
    if (cur.nonEmpty) out += cur.toSeq
    out.toSeq
  }

  test("q215 CDC chunk dedup matches a driver recompute") {
    val got = Registry.byName("q215_cdc_chunk_dedup").fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getString(1), r.getString(2).split(" ").filter(_.nonEmpty).toSeq))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val chunks = ds.flatMap(d => cdcChunks(d._2)).map(c => (c.mkString(" "), c.size.toLong))
      val uniq = chunks.groupBy(_._1).map { case (_, xs) => xs.head._2 }
      val total = chunks.map(_._2).sum
      val uTot = uniq.sum
      src -> ((chunks.size.toLong, total, uniq.size.toLong, uTot,
        10000L * (total - uTot) / total))
    }
    assert(got == expect)
    spark.sharedState.cacheManager.clearCache()
  }

  test("CDC chunking is insertion-robust where fixed windows are not") {
    // THE content-defined claim: inserting one token disturbs only the
    // chunk it lands in (boundaries are token-local), so the chunk
    // multisets before/after differ in O(1) chunks — while every
    // fixed-width window downstream of the insertion shifts
    val toks = (0 until 400).map(i => s"tok${i % 97}")
    val before = cdcChunks(toks).map(_.mkString(" "))
    val after = cdcChunks(toks.take(200) ++ Seq("INSERTED") ++ toks.drop(200))
      .map(_.mkString(" "))
    def multiset(xs: Seq[String]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val (mb, ma) = (multiset(before), multiset(after))
    val symDiff = (mb.keySet ++ ma.keySet).toSeq.map { k =>
      math.abs(mb.getOrElse(k, 0) - ma.getOrElse(k, 0))
    }.sum
    assert(symDiff <= 4, s"CDC should localize the edit, symdiff=$symDiff")
    // contrast: fixed 16-token windows change everywhere after pos 200
    val fixedBefore = toks.grouped(16).map(_.mkString(" ")).toSeq
    val fixedAfter = (toks.take(200) ++ Seq("INSERTED") ++ toks.drop(200))
      .grouped(16).map(_.mkString(" ")).toSeq
    val (fb, fa) = (multiset(fixedBefore), multiset(fixedAfter))
    val fixedDiff = (fb.keySet ++ fa.keySet).toSeq.map { k =>
      math.abs(fb.getOrElse(k, 0) - fa.getOrElse(k, 0))
    }.sum
    assert(fixedDiff > symDiff * 2,
      s"fixture must show the fixed-window shift ($fixedDiff vs $symDiff)")
  }

  test("q221 weighted Jaccard penalizes repetition that set Jaccard flattens") {
    import spark.implicits._
    // doc 2 is doc 1's 20-token phrase repeated 4x: the shingle SETS
    // nearly coincide (q36 scores it a near-dup) but the multiset
    // similarity collapses (min counts 1 vs 4) — the case q221 exists
    // to separate
    val p = (0 until 20).map(i => s"ph$i")
    val a = p ++ (0 until 5).map(i => s"ua$i")
    val b = p ++ p ++ p ++ p
    val dir = tempDir("graft_wjac")
    Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val setPairs = Registry.byName("q36_ngram_jaccard").fn(spark, dir).collect()
    assert(setPairs.length == 1 && setPairs.head.getDouble(2) >= 0.5,
      s"fixture must be a set-Jaccard near-dup: ${setPairs.mkString(",")}")
    val wPairs = Registry.byName("q221_weighted_jaccard").fn(spark, dir).collect()
    assert(wPairs.isEmpty,
      s"weighted Jaccard must reject the repetition pair: ${wPairs.mkString(",")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q221 df-capped weighted path is exact when the cap binds (hot-map correction)") {
    val posts = queries.DedupQueries.countedShinglePostings(stopPhraseDocs)
    val hotCount = posts.groupBy(col("gh")).count().filter(col("count") > 5).count()
    assert(hotCount > 0, "fixture must contain hot shingles")
    def run(maxDf: Long) =
      queries.DedupQueries.weightedJaccardPairs(posts, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet
    val capped = run(5L)
    val uncapped = run(Long.MaxValue)
    assert(uncapped.nonEmpty, "fixture should contain weighted-J >= 0.5 pairs")
    assert(capped == uncapped,
      s"capped weighted path diverged: missing=${uncapped.diff(capped)} extra=${capped.diff(uncapped)}")
  }

  test("q221 weighted Jaccard matches a driver multiset recompute") {
    val got = Registry.byName("q221_weighted_jaccard").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    def counted(w: Array[String]): Map[String, Long] =
      w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pcs = docs.map { case (id, w) => id -> counted(w) }.filter(_._2.nonEmpty)
    val expect = (for {
      (ia, ca) <- pcs; (ib, cb) <- pcs if ia < ib
      shared = ca.keySet.intersect(cb.keySet) if shared.nonEmpty
    } yield {
      val smin = shared.toSeq.map(g => math.min(ca(g), cb(g))).sum
      val (ta, tb) = (ca.values.sum, cb.values.sum)
      (ia, ib) -> ((smin, ta, tb, 10000L * smin / (ta + tb - smin)))
    }).filter(_._2._4 >= 5000L).toMap
    assert(got == expect)
    spark.sharedState.cacheManager.clearCache()
  }

  /** Corpus where a stop-phrase ("common filler phrase ...") appears
    * in EVERY doc → its shingles have df = 40, far over a cap of 5,
    * while each near-dup pair (2i, 2i+1) shares plenty of non-hot
    * body shingles.
    */
  private def stopPhraseDocs = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val pair = i / 2
      val tail = if (i % 2 == 0) "" else " extra tail token"
      (i, s"common filler phrase shared by every doc body$pair alpha$pair beta$pair gamma$pair delta$pair epsilon$pair zeta$pair$tail")
    }.toDF("doc_id", "text")
  }

  test("q36 df cap: capped candidate stage is exact when the cap binds") {
    val docs = stopPhraseDocs
    val posts = queries.DedupQueries.shinglePostingsOf(docs)
    // cap binds: at least one shingle is hot at maxDf=5
    val hotCount = posts.groupBy(col("gh")).count()
      .filter(col("count") > 5).count()
    assert(hotCount > 0, "fixture must contain hot shingles for this test")
    val capped = queries.DedupQueries.ngramJaccardPairs(posts, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = queries.DedupQueries.ngramJaccardPairs(posts, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped.nonEmpty, "fixture should contain J >= 0.5 pairs")
    // recall impact nil AND jaccard values exact (hot-set correction)
    assert(capped == uncapped,
      s"capped path diverged: missing=${uncapped.diff(capped)} extra=${capped.diff(uncapped)}")
  }

  test("q208 containment catches a doc swallowed by a larger doc that Jaccard misses") {
    import spark.implicits._
    // doc 1 (30 tokens) appears VERBATIM inside doc 2 (230 tokens):
    // every trigram of doc 1 is a trigram of doc 2, so containment
    // C(1→2) = 10000 bp exactly, while J(1,2) ≈ |A|/|B| ≪ 0.5 — the
    // absorption case q36's symmetric threshold structurally misses
    val small = (0 until 30).map(i => s"quoted$i")
    val extra = (0 until 200).map(i => s"body$i")
    val other = (0 until 40).map(i => s"other$i")
    val dir = tempDir("graft_contain")
    Seq(
      (1L, small.mkString(" ")),
      (2L, (small ++ extra).mkString(" ")),
      (3L, other.mkString(" ")))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q208_containment_dedup").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == Set((1L, 2L)), s"expected exactly the (1,2) pair: ${got.keySet}")
    val p = got((1L, 2L))
    assert(p.getAs[Long]("cont_a_bp") == 10000L,
      s"doc 1 fully contained, got ${p.getAs[Long]("cont_a_bp")} bp")
    assert(p.getAs[Long]("cont_b_bp") < 2000L, "containment must be asymmetric")
    assert(p.getAs[Long]("jaccard_bp") < 5000L,
      "fixture must sit below q36's 0.5 Jaccard threshold to prove the distinction")
    // and q36 indeed misses it on the same corpus
    val j36 = Registry.byName("q36_ngram_jaccard").fn(spark, dir).collect()
    assert(j36.isEmpty, s"q36 should miss the absorbed doc: ${j36.mkString(",")}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q36 candidate-pair volume stays sub-quadratic under the df cap") {
    // The documented scale contract of ngramJaccardPairs: excluding
    // df > maxDf shingles bounds the pair-generating self-join output
    // by (maxDf−1)/2 · |capped postings| — LINEAR in corpus size for a
    // fixed cap, never the df² blowup a hot stop-phrase causes. Pin it
    // by counting the candidate stage's actual output on the fixture
    // where the cap binds, against both the per-shingle identity and
    // the linear bound. An uncapped run on this fixture would emit
    // ≥ 40·39/2 = 780 pairs from the stop-phrase shingles alone.
    val maxDf = 5L
    val posts = queries.DedupQueries.shinglePostingsOf(stopPhraseDocs)
    val hot = posts.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("gh"))
    val capped = posts.join(broadcast(hot), Seq("gh"), "left_anti")
    val cappedPostings = capped.count()
    // candidate pairs exactly as the operator's self-join emits them
    val candidatePairs = capped.alias("a")
      .join(capped.alias("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .count()
    // exact identity: sum over surviving shingles of df·(df−1)/2
    val perShingle = capped.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) div 2")).as("p"))
      .collect()(0).getLong(0)
    assert(candidatePairs == perShingle,
      s"candidate stage emitted $candidatePairs pairs, identity says $perShingle")
    assert(candidatePairs <= (maxDf - 1) * cappedPostings / 2,
      s"sub-quadratic bound violated: $candidatePairs pairs from " +
        s"$cappedPostings capped postings at maxDf=$maxDf")
  }

  /** Brute-force embedding pairs with cosine ≥ threshold. */
  private def bruteCosPairs(threshold: Double): Set[(Long, Long)] = {
    import graft.plans.GraftFunctions
    GraftFunctions.register(spark)
    val t = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    t.alias("a").crossJoin(t.alias("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding"))
        >= threshold)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("hyperplane LSH precision 1 (output subset of brute force at 0.45)") {
    val got = Registry.byName("q60_hyperplane_lsh").fn(spark, sfDir)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "LSH should surface the high-cosine tail pairs")
    assert(got.subsetOf(bruteCosPairs(0.45 - 1e-4)),
      "exact-verify stage must kill every band false positive")
  }

  test("hyperplane LSH recall on near-orthogonal fixture data") {
    val got = Registry.byName("q60_hyperplane_lsh").fn(spark, sfDir)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteCosPairs(0.45)
    assert(want.nonEmpty)
    val recall = got.intersect(want).size.toDouble / want.size
    // 8 bands × 4 bits at cos 0.45 (p_bit ≈ 0.65): expected recall ≈ 0.8
    // on this fixture's worst-case near-orthogonal vectors; planes are
    // seed-pinned so the measurement is deterministic
    assert(recall >= 0.6, f"LSH recall too low: $recall%.2f")
  }

  test("hyperplane LSH recall ≈ 1 on planted near-duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 100L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // 2i+1000 is a tiny perturbation of base i → cosine ≈ 0.999
    val dups = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val t = (base ++ dups).toDF("vec_id", "embedding")
    val cands = queries.SimilarityQueries.lshCandidatePairs(
      t, queries.SimilarityQueries.hyperplanes(64, 32, 7L), bitsPerBand = 4)
    val pairs = queries.SimilarityQueries.verifiedPairs(t, cands, 0.9)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 20L).map(i => (i, i + 1000L)).toSet
    // P(bit flip) ≈ acos(0.999)/π ≈ 0.014 → P(miss all 8 bands) < 1e-8
    assert(want.subsetOf(pairs),
      s"LSH missed planted dups: ${want.diff(pairs)}")
  }

  test("scale-tuned multi-word banding (128/8) keeps planted-dup recall through the similar_to rewrite") {
    import spark.implicits._
    // the corpus-sized banding story: with fixed band width r, bucket
    // occupancy grows as n/2^r (q60 measured 19.6x wall for 10x data
    // on the 32/4 default); re-tuning to 16 bands x 8 bits across TWO
    // independent signature words holds >=0.9-cos collision recall
    // (~0.996 by the band formula) while cutting per-band collision
    // 2^4x — the sf1 ladder measured 2.5x for 10x data (BASELINE.md)
    plans.GraftFunctions.register(spark)
    spark.conf.set(plans.SimilarityJoinRewrite.NBitsConf, "128")
    spark.conf.set(plans.SimilarityJoinRewrite.BitsPerBandConf, "8")
    try {
      val rnd = new scala.util.Random(11)
      val base = (0L until 100L).map(i =>
        (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      val dups = base.take(20).map { case (i, v) =>
        (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
      }
      val t = (base ++ dups).toDF("vec_id", "embedding")
      val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val joined = a.join(b,
        plans.GraftFunctions.similarTo(col("ea"), col("eb"), 0.9) &&
          col("vec_a") < col("vec_b"))
      // the rewrite (not a quadratic BNLJ) must plan the band join
      assert(!joined.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
        "similar_to did not rewrite to the band join under the 128/8 conf")
      val pairs = joined.select(col("vec_a"), col("vec_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until 20L).map(i => (i, i + 1000L)).toSet
      assert(want.subsetOf(pairs),
        s"128/8 banding missed planted dups: ${want.diff(pairs)}")
    } finally {
      spark.conf.unset(plans.SimilarityJoinRewrite.NBitsConf)
      spark.conf.unset(plans.SimilarityJoinRewrite.BitsPerBandConf)
    }
  }

  test("wide banding past the old 256-bit ceiling (512/8, 8 words) keeps recall through the rewrite") {
    import spark.implicits._
    // round 17 extended AutoTune's default derivation to r ∈ [4,22],
    // so the old saturation point (n > 128·2¹¹ per group) no longer
    // binds at default conf; session confs remain the move for
    // non-(2r², r) recall/precision trade-offs —
    // 512 bits = 64 bands × 8 bits across EIGHT independent signature
    // words. This pins that the per-word lane kernel is correct past
    // the old 256-bit require (miss probability at these near-1.0
    // cosines is ≈ 64·(bit-flip ≈ 0.014)·… — vanishing; more bands
    // only ADD collisions, so recall dominates the 128/8 case).
    plans.GraftFunctions.register(spark)
    spark.conf.set(plans.SimilarityJoinRewrite.NBitsConf, "512")
    spark.conf.set(plans.SimilarityJoinRewrite.BitsPerBandConf, "8")
    try {
      val rnd = new scala.util.Random(13)
      val base = (0L until 100L).map(i =>
        (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      val dups = base.take(20).map { case (i, v) =>
        (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
      }
      val t = (base ++ dups).toDF("vec_id", "embedding")
      val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val joined = a.join(b,
        plans.GraftFunctions.similarTo(col("ea"), col("eb"), 0.9) &&
          col("vec_a") < col("vec_b"))
      assert(!joined.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"),
        "similar_to did not rewrite to the band join under the 512/8 conf")
      val pairs = joined.select(col("vec_a"), col("vec_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until 20L).map(i => (i, i + 1000L)).toSet
      assert(want.subsetOf(pairs),
        s"512/8 banding missed planted dups: ${want.diff(pairs)}")
      // verify discipline intact: no false pair survives the exact check
      assert(pairs.forall { case (x, y) => want((x, y)) || y < 1000L || x >= 1000L },
        s"unexpected cross-pair shape: $pairs")
    } finally {
      spark.conf.unset(plans.SimilarityJoinRewrite.NBitsConf)
      spark.conf.unset(plans.SimilarityJoinRewrite.BitsPerBandConf)
    }
  }

  test("extended default derivation (r=12, the first post-old-cap point) keeps recall through the rewrite") {
    import spark.implicits._
    // round 17: AutoTune.lshR(300000) = 12 — the first r the old
    // [4,11] cap could not reach. Pin the CARRIED-banding path at
    // exactly the derived (2·12², 12) = (288, 12) shape (5 words,
    // 24 bands) on planted near-dups, so the derivation's output is
    // exercised end-to-end without a 300k-row fixture.
    assert(api.AutoTune.lshParams(300000L) == ((288, 12)))
    plans.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    val base = (0L until 100L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val t = (base ++ dups).toDF("vec_id", "embedding")
    val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val joined = a.join(b,
      plans.GraftFunctions.similarTo(col("ea"), col("eb"), 0.9, 288, 12) &&
        col("vec_a") < col("vec_b"))
    assert(!joined.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
      "similar_to did not rewrite to the band join under carried (288,12) banding")
    val pairs = joined.select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 20L).map(i => (i, i + 1000L)).toSet
    assert(want.subsetOf(pairs),
      s"(288,12) banding missed planted dups: ${want.diff(pairs)}")
  }

  test("approx_count_distinct within 5% of exact") {
    // the registered query now emits the tolerance INVARIANT (oracle
    // asserts it true); the numeric ±5% check recomputes the estimate
    // on the base table here
    val rows = Registry.byName("q46_approx_distinct").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_5pct"),
        s"${r.getString(0)}: HLL estimate drifted past 5% of exact")
    }
    val numeric = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect()
    numeric.foreach { r =>
      val approx = r.getAs[Long]("approx").toDouble
      val exact = r.getAs[Long]("exact").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("PassJoin edit-distance banding is complete vs brute force (shift cases included)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the rivers!"
    assert(base.length == 60)
    // adversarial variants: substitutions, a pure-insertion shift (every
    // char after position 3 moves right — segment alignment shifts),
    // a deletion shift, mixed indel+sub at distance exactly 4, and a
    // distance-5 decoy that MUST be excluded
    val docs = Seq(
      (1L, "en", base),
      (2L, "en", base.updated(5, 'x').updated(20, 'x').updated(40, 'x').updated(58, 'x')),
      (3L, "en", ("XX" + base).take(60)),     // 2 front inserts + 2 tail deletes: dist 4, alignment shifts right
      (4L, "en", base.drop(2) + "zz"),        // 2 front deletes + 2 tail inserts: dist 4, alignment shifts left
      (5L, "en", ("z" + base.updated(30, 'q')).take(60)), // 1 ins + 1 sub + 1 tail del: dist 3
      (6L, "en", base.updated(1, '#').updated(13, '#').updated(25, '#')
        .updated(37, '#').updated(49, '#')),  // one sub per segment: dist 5
      (7L, "fr", base)                        // other lang: never paired
    ).toDF("doc_id", "lang", "pfx")
    val got = queries.DedupQueries.editDistancePairs(docs, 4, 12)
      .select(col("doc_a"), col("doc_b"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute force over the same frame
    val brute = docs.alias("a").join(docs.alias("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.pfx"), col("b.pfx")).as("d"))
      .filter(col("d") <= 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == brute,
      s"PassJoin disagreed with brute force:\n got=$got\n brute=$brute")
    // the shift variants must actually be among the found pairs
    assert(got.contains((1L, 3L)) && got.contains((1L, 4L)) && got.contains((1L, 5L)),
      "insertion/deletion shift pairs missing — probe window broken")
    assert(!got.contains((1L, 6L)), "distance-5 decoy leaked in")
  }

  /** Brute-force cosine pairs ≥ threshold over an arbitrary
    * (vec_id, embedding) frame — the q89 ground truth.
    */
  private def bruteCosPairsOf(
      t: org.apache.spark.sql.DataFrame, threshold: Double): Set[(Long, Long)] = {
    graft.plans.GraftFunctions.register(spark)
    t.alias("a").crossJoin(t.alias("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(round(graft.plans.GraftFunctions.cosineSim(
        col("a.embedding"), col("b.embedding")), 4) >= threshold)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("clusterAssignments is memoized per (session, dir) and shared by q78/q93") {
    import graft.queries.DedupQueries
    val a = DedupQueries.clusterAssignments(spark, sfDir)
    val b = DedupQueries.clusterAssignments(spark, sfDir)
    // same cached relation → the MinHash pipeline is paid once per process
    assert(a eq b)
    // the memoized table is the full per-document assignment
    assert(a.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(a.count() == Tables.documents(spark, sfDir).count())
  }

  test("splitByCluster assigns by cluster modulus over a precomputed relation") {
    import spark.implicits._
    val assignments = Seq(
      (1L, 0L), (2L, 0L), (3L, 8L), (4L, 9L), (5L, 17L), (6L, 28L))
      .toDF("doc_id", "cluster_id")
    val got = graft.queries.DedupQueries.splitByCluster(assignments)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toSeq
    assert(got == Seq(1L -> "train", 2L -> "train", 3L -> "val",
      4L -> "test", 5L -> "train", 6L -> "val"))
    // same-cluster docs always co-assigned: the leakage guarantee in unit form
    assert(got(0)._2 == got(1)._2)
  }

  test("q158 minhash calibration: estimates track exact Jaccard within sketch error, high-J pairs surfaced") {
    val rows = graft.queries.DedupQueries.q158MinhashCalibration
      .fn(spark, sfDir).collect()
    assert(rows.nonEmpty, "LSH banding must surface candidate pairs")
    rows.foreach { r =>
      val est = r.getAs[Long]("est_bp")
      val exact = r.getAs[Long]("exact_bp")
      assert(est >= 0 && est <= 10000 && exact >= 0 && exact <= 10000)
      // 64-slot sketch: σ = √(J(1−J)/64) ≤ 625 bp; 3σ + flooring slack.
      // A systematic bias (wrong permutation replay, off-by-one slot)
      // would blow far past this on every pair.
      assert(r.getAs[Long]("err_bp") <= 2000,
        s"pair (${r.getLong(0)},${r.getLong(1)}): est $est vs exact $exact")
    }
    // the audit covers the true near-dup population: every brute-force
    // J ≥ 0.8 pair appears among the audited candidates
    val audited = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hi = brutePairs(0.8)
    assert(hi.subsetOf(audited),
      s"missing true pairs from the audit: ${hi -- audited}")
  }

  test("semantic dedup precision 1: every dropped vector has a genuine partner") {
    val out = Registry.byName("q89_semantic_dedup").fn(spark, sfDir)
    val dropped = out.filter(!col("is_kept"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val t = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val withPartner = bruteCosPairsOf(t, 0.85)
      .flatMap { case (a, b) => Seq(a, b) }
    assert(dropped.subsetOf(withPartner),
      s"dropped without a real >=0.85 partner: ${dropped -- withPartner}")
    // min-id canonical: a dropped vector always has a SMALLER kept-or-
    // dropped partner, so the global minimum of any dup group survives
    val pairs = bruteCosPairsOf(t, 0.85)
    dropped.foreach { v =>
      assert(pairs.exists { case (a, b) => b == v && a < v },
        s"$v dropped but no smaller-id partner exists")
    }
  }

  test("semantic dedup recall ≈ 1 on planted high-similarity duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (0L until 200L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // 40 planted near-identical copies (cos ≈ 0.999) of the first 40
    val dups = base.take(40).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val t = (base ++ dups).toDF("vec_id", "embedding")
    val out = queries.SimilarityQueries.semanticDedup(
      spark, t, k = 16, iters = 4, threshold = 0.95)
    val dropped = out.filter(!col("is_kept"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // every planted copy should co-assign with its original and drop
    val want = (1000L until 1040L).toSet
    val recall = want.intersect(dropped).size.toDouble / want.size
    assert(recall >= 0.9, f"SemDeDup recall on planted dups: $recall%.2f")
    // and the originals (the min ids) must all survive
    assert(out.filter(col("is_kept")).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet.intersect((0L until 40L).toSet)
      .size == 40, "an original (min-id representative) was dropped")
  }

  test("q169 buckets are valid deciles; >=5 mass and total mass are integer-exact vs the candidate relation") {
    val h = Registry.byName("q169_jaccard_histogram").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h.keySet.forall(b => b >= 0L && b <= 10L))
    // bucket >= 5  ⟺  (10c) div u >= 5  ⟺  2c >= u  (u = na+nb-c > 0):
    // an EXACT integer predicate over the same candidate relation —
    // no float, no rounding band. (The earlier form compared against
    // q36's round(J,4) >= 0.5 filter, which disagrees with the decile
    // floor for J in [0.49995, 0.5) — a corpus-dependent fragility in
    // the SPEC, not an engine defect; round-9 verdict task 7.)
    // plain persist (two actions follow; the end-of-test clearCache
    // releases it — Reuse.query would free after the first count)
    val cand = queries.DedupQueries.ngramCandidateCounts(
      queries.DedupQueries.shinglePostingsOf(Tables.documents(spark, sfDir)),
      queries.DedupQueries.ShingleDfFloor).persist()
    val expected = cand.filter(expr("2 * c >= na + nb - c")).count()
    val hi = h.filter(_._1 >= 5L).values.sum
    assert(hi == expected,
      s"bucket>=5 mass $hi != exact-integer candidate count $expected")
    // total histogram mass = candidate-pair count (nothing dropped or
    // double-counted by the bucketing)
    assert(h.values.sum == cand.count(),
      "histogram mass must equal the candidate-pair count")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q185 PR curve: truth masses tie out to q169's histogram, ratios consistent") {
    val rows = Registry.byName("q185_dedup_pr_curve").fn(spark, sfDir)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(5000L, 6000L, 7000L, 8000L, 9000L))
    val hist = Registry.byName("q169_jaccard_histogram").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { r =>
      val (t, tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // EXACT identity: ex_bp >= 1000k  ⟺  10000c >= 1000k·u  ⟺
      // 10c >= k·u  ⟺  decile bucket >= k — so the truth mass TP+FN
      // at threshold k·1000 must equal q169's bucket>=k mass (both
      // ride the same df-capped candidate relation)
      val k = t / 1000L
      val truthMass = hist.filter(_._1 >= k).values.sum
      assert(tp + fn == truthMass,
        s"t=$t: TP+FN ${tp + fn} != q169 bucket>=$k mass $truthMass")
      // ratio fields recompute from the integer cells
      val precision = if (tp + fp > 0) Some(10000L * tp / (tp + fp)) else None
      val recall = if (tp + fn > 0) Some(10000L * tp / (tp + fn)) else None
      assert(Option(r.get(4)).map(_.asInstanceOf[Long]) == precision)
      assert(Option(r.get(5)).map(_.asInstanceOf[Long]) == recall)
    }
    // the corpus' planted near-dups must make the sketch gate GOOD at
    // the operating point: recall and precision both high at 0.5
    val at5 = rows.head
    assert(at5.getLong(1) > 0, "no true positives at t=5000")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q169 histogram contract holds when the df cap binds") {
    // The q169 contract (scaladoc): histogram over DF-CAPPED
    // candidates with exact hot-corrected intersection counts. On
    // stopPhraseDocs the filler phrase's shingles are hot at maxDf=5,
    // so the cap BINDS; brute-force the same contract driver-side
    // from raw postings and compare bucket-by-bucket.
    val posts = queries.DedupQueries.shinglePostingsOf(stopPhraseDocs)
    val got = queries.DedupQueries.ngramCandidateCounts(posts, maxDf = 5)
      .select(expr("(10 * c) div (na + nb - c)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sets: Map[Long, Set[Long]] = posts.collect()
      .groupBy(_.getLong(0)).map { case (d, rs) =>
        d -> rs.map(_.getLong(1)).toSet }
    val df = sets.values.toSeq.flatten.groupBy(identity)
      .map { case (g, xs) => g -> xs.size.toLong }
    val hot = df.filter(_._2 > 5L).keySet
    assert(hot.nonEmpty, "fixture must bind the cap")
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      a = sets(i); b = sets(j)
      // candidate iff a NON-HOT shingle is shared; c = FULL |A∩B|
      if (a.intersect(b) -- hot).nonEmpty
    } yield {
      val c = a.intersect(b).size.toLong
      (10L * c) / (a.size + b.size - c)
    }).groupBy(identity).map { case (bk, xs) => bk -> xs.size.toLong }
    assert(got == want,
      s"capped histogram contract diverged: got=$got want=$want")
  }

  test("q170 cluster-size histogram partitions the corpus (conservation)") {
    val rows = Registry.byName("q170_cluster_sizes").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sfDir).count()
    val mass = rows.map { case (sz, n) => sz * n }.sum
    assert(mass == docs,
      s"sum(size*n_clusters)=$mass must equal |documents|=$docs")
    assert(rows.exists { case (sz, _) => sz > 1L },
      "corpus has planted near-dups: some cluster must exceed size 1")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q161 minimizer sketch: winnowing guarantee on a planted shared span, no spurious pairs") {
    import spark.implicits._
    // docs 1 and 2 share a verbatim 40-token span inside otherwise
    // fully distinct filler; doc 3 shares nothing. The winnowing
    // guarantee: a shared span of L tokens yields L-9 identical
    // shingle windows, so the pair MUST surface with shared >= 3
    // (expected distinct shared minimizers ≈ 2(L-2)/9 ≈ 8).
    val span = (0 until 40).map(i => f"span$i%02d").mkString(" ")
    def filler(tag: String, n: Int) =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${filler("a", 30)} $span ${filler("c", 30)}", "en", "src0", 0L),
      (2L, s"${filler("b", 25)} $span ${filler("d", 35)}", "en", "src0", 0L),
      (3L, filler("e", 100), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_minz")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q161_minimizer_dedup").fn(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Long]("shared"), r.getAs[Long]("containment_bp"))).toList
    assert(got.map(_._1) == List((1L, 2L)),
      s"expected exactly the planted pair, got $got")
    val (_, shared, cont) = got.head
    assert(shared >= 3L, s"winnowing guarantee violated: shared=$shared")
    assert(cont > 0L && cont <= 10000L)
    spark.sharedState.cacheManager.clearCache()
  }

  test("q190 survivorship ties out to q78's clusters and elects the longest member") {
    val surv = Registry.byName("q190_survivorship").fn(spark, sfDir).collect()
    val clusters = Registry.byName("q78_dup_clusters").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    // exactly the multi-member clusters, no invention, none missed
    val multi = clusters.filter(_._2.size >= 2)
    assert(surv.map(_.getLong(0)).toSet == multi.keySet,
      "survivorship rows must be exactly q78's multi-member clusters")

    surv.foreach { r =>
      val members = multi(r.getLong(0))
      assert(r.getInt(1) == members.size, "n_cluster mismatch vs q78")
      val sid = r.getAs[Long]("survivor_doc_id")
      assert(members.contains(sid), "survivor must be a member")
      // election rule: max n_chars, ties to min doc_id
      val best = members.toSeq
        .map(id => (id, docs(id)._2)).sortBy { case (id, nc) => (-nc, id) }.head._1
      assert(sid == best, s"cluster ${r.getLong(0)}: survivor $sid vs rule $best")
      assert(r.getAs[String]("survivor_source") == docs(sid)._1)
      assert(r.getAs[Long]("total_chars") == members.toSeq.map(docs(_)._2).sum)
      val srcs = members.map(docs(_)._1)
      assert(r.getAs[Int]("n_sources") == srcs.size)
      assert(r.getAs[String]("sources") == srcs.toSeq.sorted.mkString(","))
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q191 flagged vectors are genuinely isolated under brute-force ground truth") {
    val flagged = Registry.byName("q191_isolation_audit").fn(spark, sfDir)
      .collect()
    assert(flagged.length == 20)
    assert(flagged.map(_.getAs[Int]("rn")).toSeq == (1 to 20))

    // ground truth: TRUE nearest-neighbor cosine per vector over the
    // whole corpus (the in-cell probe is an approximation; this gates
    // that cell-relative isolation tracks real isolation)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val norms = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum)
    }.toMap
    def cos(a: Array[Double], b: Array[Double], na: Double, nb: Double) = {
      var s = 0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (na * nb)
    }
    val trueNn = vecs.map { case (id, v) =>
      id -> vecs.collect { case (j, w) if j != id =>
        cos(v, w, norms(id), norms(j))
      }.max
    }.toMap
    val ranked = trueNn.values.toSeq.sorted
    def pct(x: Double) = ranked.count(_ <= x).toDouble / ranked.size

    val pcts = flagged.map(r => pct(trueNn(r.getLong(0))))
    assert(pcts.sum / pcts.length < 0.4,
      s"flagged set should sit low in the true-NN distribution, mean pct ${pcts.sum / pcts.length}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q206 savings conserve docs and tie out to the cluster histogram") {
    val rows = Registry.byName("q206_dedup_savings").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == nDocs, "per-source doc counts must partition the corpus")
    // cross-query identity vs q170: total removed = |docs| - n_clusters
    val hist = Registry.byName("q170_cluster_sizes").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nClusters = hist.map(_._2).sum
    assert(rows.map(_._3).sum == nDocs - nClusters,
      s"one survivor per cluster: removed must be ${nDocs - nClusters}")
    rows.foreach { case (src, nd, dr, tt, trm, bp) =>
      assert(dr <= nd && trm <= tt, s"removed exceeds totals for $src")
      assert(bp == 10000L * trm / tt, s"savings_bp inconsistent for $src")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q206 never removes a q190 survivor") {
    val removedTokens = Registry.byName("q206_dedup_savings").fn(spark, sfDir)
      .collect().map(_.getLong(4)).sum
    // driver recompute from the same memoized relations: every doc in
    // a multi-member cluster except its (n_chars, -doc_id) electee
    val dm = queries.DedupQueries.clusterAssignments(spark, sfDir)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          size(filter(split(col("text"), " "), t => length(t) > 0))
            .cast("long").as("n_tokens")), "doc_id")
      // join output order: (doc_id, cluster_id, n_chars, n_tokens)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    val byCluster = dm.groupBy(_._1)
    val want = byCluster.values.map { ms =>
      val surv = ms.maxBy(m => (m._3, -m._2))._2
      ms.filter(_._2 != surv).map(_._4).sum
    }.sum
    assert(removedTokens == want,
      s"token savings mismatch: $removedTokens vs $want")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q227 canonical dedup merges case/punct/space variants, counts raw variants") {
    import spark.implicits._
    // the sf corpora are already lowercase/punctuation-free, so the
    // oracle gate can't see the normalization work — this fixture can:
    // doc 0-3 share one canonical form through case, punctuation and
    // whitespace noise (docs 2 and 3 are BYTE-equal, so they are one
    // raw variant, not two); doc 4 stands alone
    val dir = tempDir("graft_norm")
    Seq(
      (0L, "Hello, World!  foo"),
      (1L, "hello world FOO"),
      (2L, "hello world foo"),
      (3L, "hello world foo"),
      (4L, "a different doc"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q227_normalized_dedup").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 4L, 3L), (4L, 1L, 1L)),
      s"canonical groups wrong: $got")
    // byte-exact dedup (q33) must see NO duplicates here — the gap
    // between the two layers is exactly what q227 exists to close
    val exact = Registry.byName("q33_exact_dedup").fn(spark, dir).count()
    assert(exact == 4L, s"q33 should keep 4 byte-distinct groups, got $exact")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q246 cohesion matches a driver recompute from q78 clusters + q34 pairs") {
    val clusters = Registry.byName("q78_dup_clusters").fn(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Registry.byName("q34_minhash_lsh").fn(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = clusters.values.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    val direct = pairs.groupBy(p => clusters(p._1)).view
      .mapValues(_.length.toLong).toMap
    val want = sizes.filter(_._2 >= 2).toSeq
      .map { case (cid, c) => (c, direct.getOrElse(cid, 0L)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, xs) =>
        val pp = xs.map(_ => c * (c - 1) / 2).sum
        val dd = xs.map(_._2).sum
        (c, xs.length.toLong, pp, dd,
          xs.map(x => 10000L * x._2 / (c * (c - 1) / 2)).min,
          10000L * dd / pp)
      }
    val got = Registry.byName("q246_cluster_cohesion").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, s"cohesion diverged:\n got=$got\nwant=$want")
    // every completeness is a valid bp and direct never exceeds possible
    got.foreach { case (_, _, pp, dd, mn, mean) =>
      assert(dd <= pp && mn <= mean && mean <= 10000L)
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q247 soft-dedup weights: per-class identities and the effective-size rollup") {
    val rows = Registry.byName("q247_soft_dedup_weights").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    val (total, classes) = rows.partition(_._1 == 0L)
    assert(total.length == 1, s"exactly one rollup row: ${rows.toSeq}")
    classes.foreach { case (c, nc, nd, w, eff) =>
      assert(w == 1000000L / c, s"weight_ppm wrong for size $c")
      assert(nd == c * nc, s"n_docs must be size*clusters for size $c")
      assert(eff == nd * w, s"eff_docs_ppm identity broken for size $c")
    }
    assert(total.head._2 == classes.map(_._2).sum &&
      total.head._3 == classes.map(_._3).sum &&
      total.head._5 == classes.map(_._5).sum,
      s"rollup must sum the size classes: ${rows.toSeq}")
    assert(total.head._4 == -1L, "rollup weight_ppm must be NULL")
    // effective size never exceeds the raw doc count (ppm-scaled) and
    // equals it only when every cluster is a singleton
    assert(total.head._5 <= total.head._3 * 1000000L)
    // cross-check the class histogram against q78's cluster relation
    val sizes = Registry.byName("q78_dup_clusters").fn(spark, sfDir)
      .groupBy("cluster_id").count().collect()
      .map(_.getLong(1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    classes.foreach { case (c, nc, _, _, _) =>
      assert(sizes(c) == nc, s"size-$c cluster count mismatch")
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
