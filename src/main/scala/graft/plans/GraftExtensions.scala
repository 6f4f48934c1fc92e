package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.IntegerType

/** Engine extension wiring: registers graft's native expressions with
  * a session (so `spark.sql("SELECT cosine_sim(a,b)")` and
  * `call_function` resolve them).
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *    build time (the production wiring, via `injectFunction`);
  *  - `GraftFunctions.register(spark)` at first use (idempotent) —
  *    the in-library path the query registry uses, so the driver's
  *    contract mains need no special session config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SimilarityJoinRewrite)
    ext.injectOptimizerRule(_ => FuzzyJoinRewrite)
  }
}

object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val cosineSimDescriptor: Descriptor =
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))

  val minhashSigDescriptor: Descriptor =
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigAgg].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSigAgg(children.head))

  val simhashDescriptor: Descriptor =
    (FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => SimHashAgg(children.head))

  val topkDescriptor: Descriptor =
    (FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (children: Seq[Expression]) =>
        TopKByScore(children(0), children(1), children(2)))

  /** 3-arg form: rewrite banding from session conf / static default.
    * 5-arg form `similar_to(a, b, t, nBits, bitsPerBand)`: explicit
    * banding carried on the predicate (the corpus-derived AutoTune
    * path) — must be int literals, consumed at plan time.
    */
  val similarToDescriptor: Descriptor =
    (FunctionIdentifier("similar_to"),
      new ExpressionInfo(classOf[SimilarTo].getName, "similar_to"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, t) => SimilarTo(a, b, t)
        case Seq(a, b, t,
            org.apache.spark.sql.catalyst.expressions.Literal(nb: Int, IntegerType),
            org.apache.spark.sql.catalyst.expressions.Literal(bpb: Int, IntegerType)) =>
          SimilarTo(a, b, t, Some((nb, bpb)))
        case other => throw new IllegalArgumentException(
          s"similar_to takes (a, b, threshold[, nBitsLit, bitsPerBandLit]); got ${other.size} args")
      })

  val lshSigDescriptor: Descriptor =
    (FunctionIdentifier("lsh_sig"),
      new ExpressionInfo(classOf[LshSignature].getName, "lsh_sig"),
      (children: Seq[Expression]) =>
        LshSignature(children(0), children(1), children(2)))

  val unicodeNormalizeDescriptor: Descriptor =
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (children: Seq[Expression]) =>
        UnicodeNormalize(children(0), children(1)))

  val quantizeI8Descriptor: Descriptor =
    (FunctionIdentifier("quantize_i8"),
      new ExpressionInfo(classOf[QuantizeI8].getName, "quantize_i8"),
      (children: Seq[Expression]) => QuantizeI8(children.head))

  val vectorSumDescriptor: Descriptor =
    (FunctionIdentifier("vector_sum"),
      new ExpressionInfo(classOf[VectorSumAgg].getName, "vector_sum"),
      (children: Seq[Expression]) => VectorSumAgg(children.head))

  /** 3-arg form: set-semantics band rewrite carrying the payload
    * through the probe fan-out. 5-arg form
    * `fuzzy_match(a, b, k, leftKey, rightKey)`: caller declares a
    * per-side row key, so the rewrite bands (key, segment-hash) pairs
    * only and re-fetches payloads post-dedup — exact bag semantics
    * and a fan-out shuffle of 16-byte rows (see [[FuzzyMatchKeyed]]).
    */
  val fuzzyMatchDescriptor: Descriptor =
    (FunctionIdentifier("fuzzy_match"),
      new ExpressionInfo(classOf[FuzzyMatch].getName, "fuzzy_match"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, k) => FuzzyMatch(a, b, k)
        case Seq(a, b, k, ak, bk) => FuzzyMatchKeyed(a, b, k, ak, bk)
        case other => throw new IllegalArgumentException(
          s"fuzzy_match takes (a, b, k[, leftKey, rightKey]); got ${other.size} args")
      })

  val freqTopkDescriptor: Descriptor =
    (FunctionIdentifier("freq_topk"),
      new ExpressionInfo(classOf[FreqTopK].getName, "freq_topk"),
      (children: Seq[Expression]) =>
        FreqTopK(children(0), children(1), children(2)))

  val gramSumsDescriptor: Descriptor =
    (FunctionIdentifier("gram_sums"),
      new ExpressionInfo(classOf[GramSumAgg].getName, "gram_sums"),
      (children: Seq[Expression]) => GramSumAgg(children.head))

  val mix64Descriptor: Descriptor =
    (FunctionIdentifier("mix64"),
      new ExpressionInfo(classOf[Mix64].getName, "mix64"),
      (children: Seq[Expression]) => Mix64(children.head))

  val portableHash64Descriptor: Descriptor =
    (FunctionIdentifier("portable_hash64"),
      new ExpressionInfo(classOf[PortableHash64].getName, "portable_hash64"),
      (children: Seq[Expression]) => PortableHash64(children.head))

  val vecDotDescriptor: Descriptor =
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1)))

  val vecDistSqDescriptor: Descriptor =
    (FunctionIdentifier("vec_distsq"),
      new ExpressionInfo(classOf[VecDistSq].getName, "vec_distsq"),
      (children: Seq[Expression]) => VecDistSq(children(0), children(1)))

  val vecQMilliDescriptor: Descriptor =
    (FunctionIdentifier("vec_qmilli"),
      new ExpressionInfo(classOf[VecQMilli].getName, "vec_qmilli"),
      (children: Seq[Expression]) => VecQMilli(children(0), children(1)))

  val lcpTokensDescriptor: Descriptor =
    (FunctionIdentifier("lcp_tokens"),
      new ExpressionInfo(classOf[LcpTokens].getName, "lcp_tokens"),
      (children: Seq[Expression]) => LcpTokens(children(0), children(1)))

  val descriptors: Seq[Descriptor] =
    Seq(cosineSimDescriptor, minhashSigDescriptor, simhashDescriptor,
      topkDescriptor, similarToDescriptor, lshSigDescriptor,
      unicodeNormalizeDescriptor, quantizeI8Descriptor, vectorSumDescriptor,
      fuzzyMatchDescriptor, freqTopkDescriptor, gramSumsDescriptor,
      mix64Descriptor, portableHash64Descriptor,
      vecDotDescriptor, vecDistSqDescriptor,
      vecQMilliDescriptor, lcpTokensDescriptor)

  /** Idempotent per-session registration: the native functions plus
    * the similarity-join optimizer rule (the in-library twin of the
    * `spark.sql.extensions` wiring — experimental.extraOptimizations
    * is the one post-build hook Spark exposes for rules).
    */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach {
      case (id, info, builder) =>
        if (!spark.sessionState.functionRegistry.functionExists(id)) {
          spark.sessionState.functionRegistry.registerFunction(id, info, builder)
        }
    }
    if (!spark.experimental.extraOptimizations.contains(SimilarityJoinRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimilarityJoinRewrite
    }
    if (!spark.experimental.extraOptimizations.contains(FuzzyJoinRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuzzyJoinRewrite
    }
  }

  /** Column-API form of the native cosine (requires `register`). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Column-API form of the native minhash signature aggregate. */
  def minhashSig(h: Column): Column = call_function("minhash_sig", h)

  /** Column-API form of the native simhash aggregate. */
  def simhashAgg(h: Column): Column = call_function("simhash_agg", h)

  /** Column-API form of the bounded top-k aggregate: best k
    * (score DESC, id ASC) pairs as a sorted struct array; the id is
    * BIGINT or STRING (binary UTF-8 order).
    */
  def topkByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id,
      org.apache.spark.sql.functions.lit(k))

  /** Column-API form of the similarity-join predicate: exact
    * round(cosine,4) ≥ threshold everywhere; inner-join conditions
    * get rewritten to the LSH band-join plan by
    * [[SimilarityJoinRewrite]].
    */
  def similarTo(a: Column, b: Column, threshold: Double): Column =
    call_function("similar_to", a, b,
      org.apache.spark.sql.functions.lit(threshold))

  /** `similarTo` with an explicit (nBits, bitsPerBand) carried on the
    * predicate for the band rewrite — the corpus-aware path (q60
    * passes `api.AutoTune.lshParams(corpusRows)`). Semantics are
    * identical to the 3-arg form; only the rewritten plan's banding
    * differs. Session confs still override.
    */
  def similarTo(a: Column, b: Column, threshold: Double,
      nBits: Int, bitsPerBand: Int): Column =
    call_function("similar_to", a, b,
      org.apache.spark.sql.functions.lit(threshold),
      org.apache.spark.sql.functions.lit(nBits),
      org.apache.spark.sql.functions.lit(bitsPerBand))

  /** Column-API form of the exact-integer Gram-sums aggregate
    * (flat `[d, n, S…, G_triangle…]` longs — see [[GramSumAgg]]).
    */
  def gramSums(v: Column): Column = call_function("gram_sums", v)

  /** Column-API form of the native Unicode normalizer
    * (form ∈ NFC/NFD/NFKC/NFKD).
    */
  def unicodeNormalize(s: Column, form: String): Column =
    call_function("unicode_normalize", s,
      org.apache.spark.sql.functions.lit(form))

  /** Column-API form of the native 64-bit mixer (wraparound
    * multiply — ANSI-safe, DuckDB-reproducible).
    */
  def mix64(p: Column): Column = call_function("mix64", p)

  /** Column-API form of the native portable string hash (Karp-Rabin
    * fold + mix64 — DuckDB-reproducible, see PortableHash64).
    */
  def portableHash64(s: Column): Column = call_function("portable_hash64", s)

  /** Column-API form of the native int8 max-abs quantizer. */
  def quantizeI8(vec: Column): Column = call_function("quantize_i8", vec)

  /** Column-API form of the native dot product (long-exact on
    * `array<bigint>`, sequential double fold on float/double arrays —
    * the codegen'd replacement for `aggregate(zip_with(a,b,*),0,+)`).
    */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Column-API form of the native squared euclidean distance. */
  def vecDistSq(a: Column, b: Column): Column =
    call_function("vec_distsq", a, b)

  /** Column-API form of the native unit-norm milli quantizer:
    * floor(1000·x/√nrm2 + 0.5) per component as exact longs — the
    * codegen'd replacement for the IVF family's interpreted
    * `transform(...)` lambda (see [[VecQMilli]]).
    */
  def vecQMilli(v: Column, nrm2: Column): Column =
    call_function("vec_qmilli", v, nrm2)

  /** Column-API form of the native token-level LCP of two
    * space-joined token strings (see [[LcpTokens]]) — null if either
    * side is null (callers coalesce to 0 at the corpus ends).
    */
  def lcpTokens(a: Column, b: Column): Column =
    call_function("lcp_tokens", a, b)

  /** Column-API form of the native element-wise vector-sum aggregate. */
  def vectorSum(vec: Column): Column = call_function("vector_sum", vec)

  /** Column-API form of the edit-distance join predicate: exact
    * levenshtein(a,b) ≤ k everywhere; inner-join conditions get
    * rewritten to the PassJoin segment-band plan by
    * [[FuzzyJoinRewrite]] (complete banding — exact equivalence).
    */
  def fuzzyMatch(a: Column, b: Column, k: Int): Column =
    call_function("fuzzy_match", a, b,
      org.apache.spark.sql.functions.lit(k))

  /** `fuzzyMatch` with caller-declared per-side row keys: the rewrite
    * bands (key, segment-hash) pairs only — the string payload never
    * rides the ≤(k+1)(2k+1)-way probe fan-out — and re-fetches each
    * side by key after candidate dedup. Exact bag semantics (the
    * 3-arg rewrite is set-semantics); see [[FuzzyMatchKeyed]].
    */
  def fuzzyMatch(a: Column, b: Column, k: Int,
      aKey: Column, bKey: Column): Column =
    call_function("fuzzy_match", a, b,
      org.apache.spark.sql.functions.lit(k), aKey, bKey)

  /** Column-API form of the Misra–Gries heavy-hitters aggregate:
    * top-k keys by (estimated) frequency with ≤ `capacity` counters
    * of partial state per partition.
    */
  def freqTopk(key: Column, k: Int, capacity: Int): Column =
    call_function("freq_topk", key,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(capacity))

  /** Column-API form of the Rademacher-projection LSH signature. */
  def lshSig(vec: Column, nBits: Int, seed: Long): Column =
    call_function("lsh_sig", vec,
      org.apache.spark.sql.functions.lit(nBits),
      org.apache.spark.sql.functions.lit(seed))
}
