package graft

import graft.api.BpeTrainer
import graft.api.BpeTrainer.Merge

/** Pins the distributed BPE trainer to a brute-force single-machine
  * reference implementation (classic Sennrich-style loop over a word
  * frequency map) — learned merges must match EXACTLY, in order.
  */
class BpeTrainerSpec extends SparkSpec {

  /** Reference BPE: plain Scala, no Spark. */
  private def refTrain(words: Map[String, Long], k: Int): Seq[Merge] = {
    var vocab = words.toSeq.map { case (w, n) =>
      (w.map(_.toString).toList: Seq[String], n)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    for (rank <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + n
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), cnt) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += Merge(rank, l, r, cnt)
        vocab = vocab.map { case (syms, n) =>
          (BpeTrainer.applyMerge(syms, l, r), n)
        }
      }
    }
    out.toSeq
  }

  test("applyMerge is left-to-right single-pass (aaa + (a,a) -> [aa, a])") {
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(BpeTrainer.applyMerge(Seq("x", "a", "a", "y"), "a", "a") == Seq("x", "aa", "y"))
    assert(BpeTrainer.applyMerge(Seq("aa", "a", "a"), "aa", "a") == Seq("aaa", "a"))
  }

  test("distributed trainer learns exactly the reference merges on a known corpus") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest",
      "widest widest widest").toDF("text")
    val wordFreq = Map(
      "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val want = refTrain(wordFreq, 8)
    val got = BpeTrainer.train(corpus, "text", 8)
    assert(got == want, s"\n got=$got\nwant=$want")
    // sanity on the classic example: 'es' (or 'e s' family) merges early
    assert(got.head.count == want.head.count)
  }

  test("trainer matches reference on sf0.001 documents (20 merges)") {
    val docs = Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions._
    val freq = docs
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = refTrain(freq, 20)
    val got = BpeTrainer.train(docs, "text", 20)
    assert(got == want)
  }

  test("merge loop launches ZERO Spark jobs after the single vocab collect") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest",
      "widest widest widest").toDF("text").localCheckpoint()

    val j2 = jobsDuring(BpeTrainer.train(corpus, "text", 2))
    val j16 = jobsDuring(BpeTrainer.train(corpus, "text", 16))
    // cost is the one word-frequency collect, INDEPENDENT of merge
    // count — the driver-local loop never goes back to the cluster.
    assert(j16 == j2, s"job count grew with merges: $j2 -> $j16")
    assert(j2 <= 3, s"vocab collect should be a couple of jobs, got $j2")
  }

  test("trainLocal is insensitive to word-frequency input order") {
    val freq = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val a = BpeTrainer.trainLocal(freq, 8)
    val b = BpeTrainer.trainLocal(freq.reverse, 8)
    assert(a == b)
  }

  test("32k-merge production vocabulary trains under the wall-clock gate") {
    // The scale claim made concrete: a production-size merge count on
    // a production-shape vocabulary (50k distinct Zipf-weighted words,
    // the post-minCount collect size a 100 TB corpus yields) must be
    // driver-CPU seconds, not hours — i.e. the heap argmax must hold,
    // since a full-scan argmax is O(|pairs|·merges) and visibly blows
    // this budget. Deterministic synthetic vocab (mix64 letters).
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val vocab = (0 until 50000).map { i =>
      val len = 5 + (math.abs(mix(i * 31L + 7)) % 11).toInt
      val w = new StringBuilder
      (0 until len).foreach { j =>
        w += ('a' + (math.abs(mix(i * 131071L + j)) % 26).toInt).toChar
      }
      (w.toString, 1L + 100000L / (i + 1)) // Zipf-ish weights
    }
    val t0 = System.nanoTime()
    val merges = BpeTrainer.trainLocal(vocab, 32000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.length == 32000, s"vocab exhausted at ${merges.length}")
    // counts must be non-increasing in rank (the argmax invariant —
    // a heap bug that returned a stale non-maximal pair breaks this)
    merges.sliding(2).foreach { case Seq(a, b) =>
      assert(b.count <= a.count, s"rank ${b.rank} count rose: $a -> $b")
    }
    assert(secs < 120.0, f"32k merges took $secs%.1f s (gate: 120 s)")
    info(f"32k merges over 50k words: $secs%.1f s")
  }

  test("tokenCounts shrinks monotonically with more merges and joins back exactly") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val merges = BpeTrainer.train(docs, "text", 10)
    val n0 = BpeTrainer.tokenCounts(docs, "doc_id", "text", Seq.empty)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).first().getLong(0)
    val n10 = BpeTrainer.tokenCounts(docs, "doc_id", "text", merges)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).first().getLong(0)
    assert(n10 < n0, "applying merges must reduce total symbol count")
    assert(BpeTrainer.tokenCounts(docs, "doc_id", "text", merges).count() == 50)
  }

  test("encode round-trips the text, agrees with tokenCounts, survives repartitioning") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).limit(50)
    val merges = BpeTrainer.train(docs, "text", 12)
    val enc = BpeTrainer.encode(docs, "doc_id", "text", merges)
    // lossless: concatenated tokens == the text with spaces stripped
    val broken = enc.alias("e")
      .join(docs.alias("d"), col("e.doc_id") === col("d.doc_id"))
      .filter(concat_ws("", col("e.bpe_tokens")) =!=
        regexp_replace(col("d.text"), " ", ""))
      .count()
    assert(broken == 0, "encode lost or reordered characters")
    // token counts agree with the counting-only path
    val mismatch = enc
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_enc"))
      .join(BpeTrainer.tokenCounts(docs, "doc_id", "text", merges), "doc_id")
      .filter(col("n_enc") =!= col("n_bpe_tokens")).count()
    assert(mismatch == 0, "encode and tokenCounts disagree")
    // the per-partition word cache must not change results
    val a = enc.orderBy("doc_id").collect().map(_.toSeq)
    val b = BpeTrainer.encode(docs.repartition(7), "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b), "encoding depends on the partition layout")
  }

  test("q235 fixture: a character-coverage gap shows up as a fertility blowup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // majority language: repetitive ASCII (merges learn its bigrams);
    // minority language: Cyrillic — characters the trained merges never
    // cover, so every char stays its own token and fertility approaches
    // the average word length while the covered language compresses
    // the regime the audit exists to surface: the majority language's
    // short repeated words fully merge within the 24-merge budget
    // (frequency 40 dominates every argmax), while the minority
    // language's long one-off words get at most the leftover merges
    // and stay near character-level
    val enDoc = Seq.fill(40)(
      "the cat sat on a mat with a hat at a flat").mkString(" ")
    val ruDoc = "превосходительство благожелательность несоответствие " +
      "обстоятельство путешественник"
    val docs = Seq((1L, "en", enDoc), (2L, "ru", ruDoc))
      .toDF("doc_id", "lang", "text")
    val merges = BpeTrainer.train(docs, "text", 24)
    val ordered = merges.sortBy(_.rank).map(m => (m.left, m.right))
    def fertilityBp(lang: String): Long = {
      val words = docs.filter(col("lang") === lang)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .as[String].collect()
      val nTok = words.map { w =>
        var syms: Seq[String] = w.map(_.toString)
        ordered.foreach { case (l, r) => syms = BpeTrainer.applyMerge(syms, l, r) }
        syms.length.toLong
      }.sum
      10000L * nTok / words.length
    }
    val en = fertilityBp("en")
    val ru = fertilityBp("ru")
    // en words are fully merged into ~1-2 tokens (fertility ~1x); ru
    // words stay character-level (~4-6 tokens/word on this fixture)
    assert(ru >= 2 * en,
      s"coverage gap must blow up fertility: ru=$ru bp vs en=$en bp")
    // and the registered query agrees end-to-end on a written corpus
    val dir = tempDir("graft_fert")
    docs.select(col("doc_id"), col("lang"), col("text"), lit("s").as("source"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("q235_tokenizer_fertility").fn(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(out("ru") >= 2 * out("en"),
      s"registered query must show the same blowup: $out")
  }
}
