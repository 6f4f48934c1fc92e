package graft

import org.apache.spark.sql.functions._

import graft.api.AutoTune
import graft.plans.{GraftFunctions, SimilarityJoinRewrite}

/** Pins the corpus-derived sketch/index parameter rules (round-11
  * verdict task 1) — the derivation IS the contract the oracles
  * replay, so every value here is load-bearing.
  */
class AutoTuneSpec extends SparkSpec {

  test("lshR: smallest r in [4,22] with 128·2^r ≥ n, floored and capped") {
    // floor regime: tiny corpora keep the recall-calibrated width 4
    assert(AutoTune.lshR(1) == 4)
    assert(AutoTune.lshR(500) == 4)     // sf0.01 gate corpus
    assert(AutoTune.lshR(2000) == 4)    // sf0.1 gate corpus
    assert(AutoTune.lshR(2048) == 4)    // exact boundary: 128·2^4
    assert(AutoTune.lshR(2049) == 5)
    assert(AutoTune.lshR(4096) == 5)    // single-oracle-word ceiling
    assert(AutoTune.lshR(20000) == 8)   // sf1 ladder corpus
    assert(AutoTune.lshR(200000) == 11) // sf10 ladder corpus — same r as the old cap
    // round 17: past 128·2¹¹ = 262144 the OLD [4,11] cap saturated and
    // occupancy grew linearly (the round-16 verdict's `weak` mark);
    // the derivation now keeps doubling 2^r with the corpus
    assert(AutoTune.lshR(262144) == 11) // exact old-cap boundary
    assert(AutoTune.lshR(262145) == 12) // first n the old cap mishandled
    assert(AutoTune.lshR(300000) == 12) // the round-17 ladder corpus
    assert(AutoTune.lshR(128L << 21) == 21)
    // cap regime: 2·22² = 968 ≤ the rewrite's 1024-bit signature limit
    assert(AutoTune.lshR(Long.MaxValue) == 22)
  }

  test("lshParams reproduces BOTH measured ladder points: (32,4) and (128,8)") {
    assert(AutoTune.lshParams(2000) == ((32, 4)))   // the good sf0.1 default
    assert(AutoTune.lshParams(20000) == ((128, 8))) // the good sf1 re-tune
    // derived nBits always divisible by r (the rewrite's banding invariant)
    (1L to 44L).map(1L << _).foreach { n =>
      val (nb, r) = AutoTune.lshParams(n)
      assert(nb == 2 * r * r && nb % r == 0 && nb <= 1024, s"n=$n -> ($nb, $r)")
    }
  }

  test("isolationK = max(16, min(ceil(sqrt(n)), n div 32)): floor, clamp, sqrt regimes") {
    assert(AutoTune.isolationK(100) == 16)   // floor: n div 32 = 3 < 16
    assert(AutoTune.isolationK(500) == 16)   // gate corpus: clamp 15 -> floor 16 (the gate-calibrated k)
    assert(AutoTune.isolationK(1024) == 32)  // clamp active: min(32, 32)
    assert(AutoTune.isolationK(2000) == 45)  // sqrt regime: ceil(sqrt(2000))
    assert(AutoTune.isolationK(20000) == 142) // sf1 ladder corpus, ~the measured-good 128-cell point
  }

  test("corpusRows memoizes the count per (session, dir, table)") {
    val n1 = AutoTune.corpusRows(spark, sfDir)
    assert(n1 == 500L)
    assert(AutoTune.corpusRows(spark, sfDir) == n1)
    assert(AutoTune.corpusRows(spark, sfDir, "documents") == 500L)
  }

  /** The carried-banding plumbing: predicate-carried params reach the
    * band rewrite; explicit session confs still win (the manual
    * escape hatch the verdict requires kept intact).
    */
  test("similar_to carried banding drives the rewrite; session conf overrides it") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val t = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val a = t.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = t.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    def planOf(nb: Int, r: Int): String =
      a.join(b, GraftFunctions.similarTo(col("ea"), col("eb"), 0.45, nb, r) &&
          col("va") < col("vb"))
        .queryExecution.optimizedPlan.toString
    // 50 bits / 5-bit bands fit ONE signature word; 128/8 needs two
    val p50 = planOf(50, 5)
    assert(p50.contains("graft_sig0") && !p50.contains("graft_sig1"), p50)
    val p128 = planOf(128, 8)
    assert(p128.contains("graft_sig1"), p128)
    // conf set -> carried banding ignored (128/8 carried, 32/4 conf)
    spark.conf.set(SimilarityJoinRewrite.NBitsConf, "32")
    spark.conf.set(SimilarityJoinRewrite.BitsPerBandConf, "4")
    try {
      val pConf = planOf(128, 8)
      assert(pConf.contains("graft_sig0") && !pConf.contains("graft_sig1"), pConf)
    } finally {
      spark.conf.unset(SimilarityJoinRewrite.NBitsConf)
      spark.conf.unset(SimilarityJoinRewrite.BitsPerBandConf)
    }
    // and the predicate's SEMANTICS ignore banding: same matches either way
    val got = a.join(b, GraftFunctions.similarTo(col("ea"), col("eb"), 0.45, 50, 5) &&
        col("va") < col("vb"))
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("dfCap = max(floor, ceil(sqrt(P))): floor and sqrt regimes at the corpus points") {
    // shingle family (floor 1000): both verify corpora sit on the
    // floor, the 10× ladder corpus enters the sqrt regime
    assert(AutoTune.dfCap(26136, 1000) == 1000)    // sf0.01 postings
    assert(AutoTune.dfCap(260388, 1000) == 1000)   // sf0.1 postings
    assert(AutoTune.dfCap(2603880, 1000) == 1614)  // sf1 ladder postings
    // minimizer family (floor 200): sf0.1 already in the sqrt regime
    assert(AutoTune.dfCap(5392, 200) == 200)       // sf0.01 minimizer postings
    assert(AutoTune.dfCap(54006, 200) == 233)      // sf0.1 minimizer postings
    // exact-square boundary: ceil is a no-op
    assert(AutoTune.dfCap(1048576, 200) == 1024)
    // candidate-volume discipline: cap·P ≤ P^1.5 once past the floor
    Seq(10_000_000L, 1_000_000_000L).foreach { p =>
      val cap = AutoTune.dfCap(p, 1000)
      assert(cap.toDouble * p <= math.pow(p.toDouble, 1.5) * 1.001, s"P=$p cap=$cap")
    }
  }

  test("derived df cap is output-neutral on the slack corpus and conf-overridable") {
    import queries.DedupQueries
    // default (derived, floor 1000) vs an explicit slack cap: identical
    // pairs — the corpus max df is 7 at sf0.01, far under either cap
    val posts = DedupQueries.shinglePostingsOf(Tables.documents(spark, sfDir))
    val derived = Registry.byName("q36_ngram_jaccard").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = DedupQueries.ngramJaccardPairs(posts, maxDf = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(derived == explicit,
      s"derived-cap q36 diverged from the slack explicit cap: ${derived.size} vs ${explicit.size}")
    // conf override wins over the derivation: a cap of 1 makes every
    // shingle hot — the hot-set CORRECTION keeps q36 exact anyway
    // (the documented accepted loss only drops pairs sharing nothing
    // but hot shingles, which at cap=1 is every pair — so the
    // candidate set must come out EMPTY)
    spark.conf.set(DedupQueries.ShingleDfCapConf, "1")
    try {
      graft.Reuse.invalidate(spark, "ngramcand:" + sfDir)
      val n = Registry.byName("q36_ngram_jaccard").fn(spark, sfDir).count()
      assert(n == 0L, s"cap=1 must empty the candidate join, got $n pairs")
    } finally {
      spark.conf.unset(DedupQueries.ShingleDfCapConf)
      graft.Reuse.invalidate(spark, "ngramcand:" + sfDir)
    }
  }
}
