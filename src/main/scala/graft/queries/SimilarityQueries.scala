package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.plans.{CosineSimilarity, GraftFunctions}

/** Similarity search over `embeddings.embedding` (north-star
  * "similarity search"): brute-force cosine top-k as the correctness
  * baseline, and an IVF (inverted-file) probed variant as the scale
  * path — candidate generation becomes an equi join on centroid id,
  * so the 100 TB plan is scan + broadcast centroid assign + hash
  * join, never an all-pairs cross join. Cosine is the native
  * codegen'd `cosine_sim` expression (graft.plans.CosineSimilarity)
  * reading the float vectors directly.
  *
  * Ranking is the native bounded `topk_by_score` aggregate
  * (graft.plans.TopKByScore), NOT a `row_number()` window: a window
  * partitioned by q_id funnels every scored row into ≤ |queries|
  * reducer partitions (20 here — a hard parallelism cap at any
  * cluster size), while the aggregate pre-trims each input partition
  * to its local top-k before the exchange, so the shuffle carries
  * ≤ k·partitions rows and the reduce side stays embarrassingly
  * small regardless of corpus scale.
  */
object SimilarityQueries {

  /** Brute-force cosine top-10 for a small query set (vec_id < 20).
    * The query side is broadcast — one pass over the corpus with
    * per-partition partial top-k, the classic "score and take"
    * baseline every ANN variant is measured against.
    */
  val q38CosineTopk = QueryDef(
    "q38_cosine_topk",
    "brute-force cosine top-10 neighbors for query vectors (partial top-k aggregate)",
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id < 20)
      |SELECT q_id, vec_id AS n_id, round(cs, 6) AS cos_sim, rn
      |FROM (
      |  SELECT q.q_id, t.vec_id,
      |    list_dot_product(q.qv, t.v)
      |      / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(t.v, t.v)) AS cs,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      list_dot_product(q.qv, t.v)
      |        / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(t.v, t.v)) DESC,
      |      t.vec_id) AS rn
      |  FROM q, t
      |  WHERE t.vec_id <> q.q_id)
      |WHERE rn <= 10
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = t.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    rerankTopk(t.crossJoin(broadcast(q)), "qe", "embedding", 10)
  }

  /** Lloyd's k-means on the embedding table, cosine metric. The
    * centroid set is driver-resident metadata (k·dim floats — the
    * same bounded state every k-means implementation, including
    * Spark MLlib's, keeps on the driver) broadcast to executors each
    * iteration: assign = one broadcast pass with a partial-aggregable
    * `max_by` argmax (NO window — no shuffle of the corpus), update =
    * per-(cell, component) mean. Deterministic: seeds are the first
    * k vectors, ties split to the lowest centroid id. A cell that
    * loses every member keeps its previous centroid so k is stable.
    */
  /** Trains on a deterministic 1/`sampleMod` hash-mod subset (the q56
    * sampling idiom): k-means centroids are statistics of the
    * distribution, not the corpus, so Lloyd passes don't need every
    * row — at corpus scale this caps training cost at sample size
    * while the recall gate (≥ 0.7 @ sf0.001) pins that quality holds.
    * Seeds still come from the FULL table (first k vec_ids) so k is
    * stable regardless of sampling.
    */
  /** Lloyd k-means over the corpus, EXACT-INTEGER variant: members
    * are int8-quantized (`quantize_i8` — exact small integers in
    * doubles) before the per-cell mean, so the `vector_sum` partials
    * are integer-valued doubles whose addition is ASSOCIATIVE EXACTLY
    * (|Σ| ≤ 127·n ≪ 2^53) — centroid arithmetic is independent of
    * partition order, and `floor(sum / n)` keeps every centroid
    * component an exact integer. Together with the mix64 sample hash
    * this makes the whole training loop deterministic AND replayable
    * by unrolled SQL (see q39's oracle) — the float-mean version's
    * order-dependent sums were the one thing no oracle could pin.
    * Assignment still scores the ORIGINAL float vector against the
    * integer centroid (same reproducible-double contract as q38's
    * float cosine).
    */
  private[graft] def trainCentroids(
      s: SparkSession, t0: DataFrame, k: Int, iters: Int,
      sampleMod: Int = 4): DataFrame = {
    GraftFunctions.register(s)
    // the TRAINING SAMPLE is cached for the training only: each Lloyd
    // iteration is an action over it (iters scans), and no cached
    // blocks outlive the query (round-1 leak lesson)
    graft.Reuse.within(t0
      .filter(pmod(GraftFunctions.mix64(col("vec_id")), lit(sampleMod)) === 0 ||
        col("vec_id") < k)
      .withColumn("qv", GraftFunctions.quantizeI8(col("embedding"))))(
      trainCentroidsOn(s, t0, _, k, iters))
  }

  /** Nearest-cell assignment, the one IVF assign step (Lloyd loop,
    * q39, q89, q191, q203, q228, q236, `AnnIndex`): every `t` row
    * (`vec_id`, `embedding`, `carry`...) goes to its most
    * cosine-similar centroid of `cents` (`c_id`, `ce`) in one broadcast
    * pass with a partial-aggregable `max_by` argmax — no window
    * shuffle of the corpus; ties go to the lowest `c_id`. Output:
    * `vec_id`, the `carry` columns, `c_id`.
    */
  private[graft] def assignCells(
      t: DataFrame, cents: DataFrame, carry: String*): DataFrame = {
    GraftFunctions.register(t.sparkSession)
    t.crossJoin(broadcast(cents))
      .withColumn("csim", GraftFunctions.cosineSim(col("embedding"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id") +: carry.map(col): _*),
        struct(col("csim"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("vec_id") +: carry.map(c => col(s"best.$c").as(c)) :+
        col("best.c_id").as("c_id"): _*)
  }

  /** The IVF probe: each query (`q_id`, `qe`) probes its `nprobe`
    * most cosine-similar cells — a bounded top-k over the broadcast
    * centroid set (k rows per query). Output: one (`q_id`, `qe`,
    * `c_id`) row per probed cell.
    */
  private[graft] def probeCells(
      queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(cents))
      .withColumn("csim", GraftFunctions.cosineSim(col("qe"), col("ce")))
      .groupBy(col("q_id"))
      .agg(first(col("qe")).as("qe"),
        GraftFunctions.topkByScore(col("csim"), col("c_id").cast("long"), nprobe)
          .as("pc"))
      .select(col("q_id"), col("qe"), explode(col("pc.id")).as("c_id"))
      .withColumn("c_id", col("c_id").cast("int"))

  /** Exact rerank of candidate rows carrying `q_id`, `vec_id` and the
    * query and candidate vectors (columns `qv`, `v`): the self pair is
    * dropped, and the bounded top-k aggregate keeps each query's `k`
    * best cosines. Output: (`q_id`, `n_id`, `cos_sim` rounded to 6
    * places, `rn`) ordered by (`q_id`, `rn`).
    */
  private[graft] def rerankTopk(
      cand: DataFrame, qv: String, v: String, k: Int): DataFrame =
    cand.filter(col("vec_id") =!= col("q_id"))
      .withColumn("cs", GraftFunctions.cosineSim(col(qv), col(v)))
      .groupBy(col("q_id"))
      .agg(GraftFunctions.topkByScore(col("cs"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), col("t.id").as("n_id"),
        round(col("t.score"), 6).as("cos_sim"),
        (col("i") + 1).cast("int").as("rn"))
      .orderBy(col("q_id"), col("rn"))

  /** Memoized CORPUS centroids per (session, dir, k, iters) — the
    * training loop's cost is ~6 sequential driver-synchronized rounds
    * (a fixed per-round overhead that dwarfs its compute at bench
    * scale), and q39/q89/q191 all train over the same embeddings
    * table, so one session was paying it three times. The result is a
    * driver-resident LocalRelation (k·dim doubles), safe to hold for
    * the session. Fixture-driven callers (AnnIndexSpec, semanticDedup
    * fixtures) keep the unmemoized [[trainCentroids]] path.
    */
  private[graft] def corpusCentroids(
      s: SparkSession, d: String, k: Int, iters: Int): DataFrame =
    // durable when spark.graft.memo.dir is set: the Lloyd rounds are
    // driver-synchronized SEQUENTIAL passes over the corpus — at
    // 100 TB that is hours per (k, iters) config, exactly what a
    // pipeline persists per corpus snapshot and re-reads until the
    // embeddings change. (k, iters) is part of the memo NAME, the
    // corpus fingerprint is the invalidation key.
    graft.Reuse.session(s, s"cents:$d:$k:$iters",
        Seq(Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding")))) {
      trainCentroids(s,
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        k, iters)
    }

  private def trainCentroidsOn(
      s: SparkSession, full: DataFrame, t: DataFrame, k: Int,
      iters: Int): DataFrame = {
    var cents: Seq[(Int, Seq[Double])] = full.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"),
        GraftFunctions.quantizeI8(col("embedding")))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    for (_ <- 1 to iters) {
      val cdf = s.createDataFrame(cents).toDF("c_id", "ce")
      // per-cell mean via the native vector_sum aggregate: ONE vector
      // per (partition, cell) crosses the exchange — the posexplode →
      // per-component groupBy idiom this replaces shuffled dim× rows
      // over one more exchange per Lloyd pass
      val means = assignCells(t, cdf, "qv")
        .groupBy(col("c_id"))
        .agg(GraftFunctions.vectorSum(col("qv")).as("vs"),
          count(lit(1)).as("n"))
        .collect().map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getSeq[Double](1).map(x => math.floor(x / n)))
        }.toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    s.createDataFrame(cents).toDF("c_id", "ce")
  }

  /** One unrolled Lloyd iteration of the q39 oracle: assign the
    * training sample to the previous centroids (same float-cosine +
    * c_id tie-break as the Spark argmax), then the exact-integer
    * floor-mean over the members' quantized vectors; empty cells
    * keep their previous centroid (COALESCE), exactly like the Spark
    * loop's `getOrElse`.
    */
  private def lloydIterSql(r: Int): String = {
    val prev = s"c${r - 1}"
    s"""a$r AS MATERIALIZED (SELECT vec_id, qv, c_id FROM (
       |    SELECT s.vec_id, s.qv, c.c_id,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |        list_dot_product(s.v, c.ce) / sqrt(list_dot_product(s.v, s.v) * list_dot_product(c.ce, c.ce)) DESC,
       |        c.c_id) AS rn
       |    FROM samp s CROSS JOIN $prev c) WHERE rn = 1),
       |n$r AS (SELECT c_id, count(*) AS n FROM a$r GROUP BY c_id),
       |s$r AS (SELECT a.c_id, d.j, sum(a.qv[d.j]) AS sv
       |        FROM a$r a CROSS JOIN dims d GROUP BY a.c_id, d.j),
       |c$r AS MATERIALIZED (SELECT p.c_id, COALESCE(m.ce, p.ce) AS ce
       |        FROM $prev p LEFT JOIN (
       |          SELECT s.c_id, list(CAST(floor(s.sv / n.n) AS DOUBLE) ORDER BY s.j) AS ce
       |          FROM s$r s JOIN n$r n USING (c_id) GROUP BY s.c_id) m USING (c_id)),""".stripMargin
  }

  /** IVF-style approximate NN: 16 Lloyd-trained centroids (seeded
    * from the first 16 vectors, 6 Lloyd iterations, deterministic),
    * every vector assigned to its nearest centroid via the same
    * broadcast `max_by` argmax, queries probe their 7 nearest
    * centroids and rank candidates exactly with the bounded top-k
    * aggregate. The spec additionally pins recall@10 ≥ 0.7 and the
    * exact-rerank property. At scale the assignment is a broadcast
    * join and search is an equi join on centroid id: both
    * shuffle-light.
    *
    * FULLY oracle-checked since round 5: training is the
    * exact-integer Lloyd of [[trainCentroids]] (mix64 sample hash,
    * int8-quantized members, order-independent integer sums,
    * floor-mean centroids), so the oracle below replays all six
    * iterations as unrolled CTEs — the same PageRank-style unrolling
    * precedent — then the full-corpus assignment, the 7-cell probe,
    * and the exact float rerank. Recall < 1 is BY DESIGN; the oracle
    * reproduces the identical probe decisions, so rows+schema+hash
    * gate the approximation itself.
    */
  /** Shared oracle preamble for the exact-integer IVF family (q39,
    * q89): quantization, mix64 sample, seed centroids, `iters`
    * unrolled Lloyd iterations, and the full-corpus assignment to
    * the final centroids (CTE `asgn`).
    */
  /** CTEs are MATERIALIZED: DuckDB inlines duplicate CTE references,
    * so the chained Lloyd iterations (each c_r referenced by both
    * a_{r+1} and c_{r+1}) re-evaluate exponentially — ~2^iters
    * re-runs of the whole upstream chain, measured 73 s for a 500-row
    * corpus at iters=6 (and ~600 s for q191's three `asgn`
    * references). The hint pins each stage to one evaluation
    * (0.6 s); results are bit-identical.
    */
  /** `kSql` is the SQL-side cell count — an integer scalar
    * expression over CTE `t`, default the q39/q89 literal 16;
    * q191 passes the corpus-derived `greatest(16, ceil(sqrt(n)))`
    * so the oracle replays AutoTune.isolationK exactly.
    */
  private[graft] def ivfPreambleSql(iters: Int, kSql: String = "16"): String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> floor(x * (127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))) + 0.5)) AS qv
       |  FROM embeddings),
       |dims AS MATERIALIZED (SELECT unnest(range(1, 1 + (SELECT max(len(v)) FROM t))) AS j),
       |hx0 AS (SELECT vec_id, CAST(vec_id AS HUGEINT) AS z FROM t),
       |hx1 AS (SELECT vec_id, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM hx0),
       |hx2 AS (SELECT vec_id, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM hx1),
       |samp AS MATERIALIZED (SELECT t.* FROM t JOIN hx2 USING (vec_id)
       |         WHERE vec_id < ${kSql} OR xor(z, z >> 31) % 4 = 0),
       |c0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS c_id, qv AS ce FROM t WHERE vec_id < ${kSql}),
       |${(1 to iters).map(lloydIterSql).mkString("\n")}
       |asgn AS MATERIALIZED (SELECT vec_id, v, c_id FROM (
       |    SELECT t.vec_id, t.v, c.c_id,
       |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(t.v, c.ce) / sqrt(list_dot_product(t.v, t.v) * list_dot_product(c.ce, c.ce)) DESC,
       |        c.c_id) AS rn
       |    FROM t CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin

  val q39AnnIvf = QueryDef(
    "q39_ann_ivf",
    "IVF approximate NN: 16 trained centroids, nprobe=7, exact rerank of candidates",
    s"""${ivfPreambleSql(6)},
       |probes AS (SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v, c.ce) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.ce, c.ce)) DESC,
       |        c.c_id) AS rn
       |    FROM t q CROSS JOIN c6 c
       |    WHERE q.vec_id >= 20 AND q.vec_id < 30) WHERE rn <= 7),
       |rr AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    list_dot_product(qt.v, a.v) / sqrt(list_dot_product(qt.v, qt.v) * list_dot_product(a.v, a.v)) AS cs
       |  FROM probes p
       |  JOIN asgn a ON a.c_id = p.c_id
       |  JOIN t qt ON qt.vec_id = p.q_id
       |  WHERE a.vec_id <> p.q_id)
       |SELECT q_id, n_id, round(cs, 6) AS cos_sim, CAST(rn AS INT) AS rn FROM (
       |  SELECT q_id, n_id, cs,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rn
       |  FROM rr)
       |WHERE rn <= 10
       |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = corpusCentroids(s, d, k = 16, iters = 6)
    val probes = probeCells(t.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe")), cents, 7)
    // candidates = vectors in probed cells, reranked exactly
    rerankTopk(probes.join(assignCells(t, cents, "embedding"), "c_id"),
      "qe", "embedding", 10)
  }

  /** Deterministic gaussian hyperplanes for signed-random-projection
    * (cosine) LSH. Driver-resident metadata like the IVF centroids:
    * n·dim floats, broadcast into the plan as literals.
    */
  private[graft] def hyperplanes(dim: Int, n: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Candidate pairs by random-hyperplane LSH: each vector's signature
    * bit i = sign(dot(v, plane_i)) (computed via the codegen'd
    * `cosine_sim` — same sign as the dot product, one fused pass per
    * plane, no per-row allocation), signatures cut into
    * `planes.size / bitsPerBand` bands, candidates = pairs equal in
    * ≥1 band. The self-join is an EQUI join on (band, band_value) —
    * at 100 TB this is the same bucketed shape as MinHash LSH (q34):
    * shuffle by band key, never all-pairs. Collision probability per
    * bit is 1 − θ/π, so `bitsPerBand` is the precision knob: 4 bits
    * suits this fixture's near-orthogonal vectors at threshold ~0.45;
    * production embedding dims (≥256) and thresholds (≥0.8) want 8–16
    * bits per band to keep the candidate rate down.
    */
  private[graft] def lshCandidatePairs(
      t: DataFrame, planes: Seq[Array[Float]], bitsPerBand: Int): DataFrame = {
    val s = t.sparkSession
    GraftFunctions.register(s)
    val nBands = planes.size / bitsPerBand
    val sig = planes.zipWithIndex.map { case (p, i) =>
      when(GraftFunctions.cosineSim(col("embedding"), typedlit(p)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // ids only past this point: the band join and the multi-band
    // dedup shuffle carry 16-byte pairs, not vector payloads — at
    // corpus scale the exchange is O(pairs), not O(pairs · dim).
    // Callers rehydrate embeddings by key join (verifiedPairs).
    val banded = t
      .withColumn("sig", sig)
      .select(col("vec_id"),
        posexplode(array((0 until nBands).map(j =>
          shiftright(col("sig"), j * bitsPerBand)
            .bitwiseAND(lit((1L << bitsPerBand) - 1))): _*))
          .as(Seq("band", "bv")))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Rehydrate candidate id pairs with their vectors (two key joins —
    * broadcast at fixture scale, shuffled hash joins at corpus scale)
    * and keep those with exact cosine ≥ threshold.
    */
  private[graft] def verifiedPairs(
      t: DataFrame, pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(t.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(t.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cos_sim",
        round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))

  /** Embedding near-dup via cosine LSH (the scale path q37's
    * label-blocked exact join lacks: no block key needed, candidate
    * generation is a band equi join). Candidates verified exactly at
    * cos ≥ 0.45. Recall on PLANTED high-sim dups (the regime LSH is
    * for) is ≈ 1 and pinned in `DedupQualitySpec`; precision is 1 by
    * the exact verify.
    *
    * Since round 3 this is expressed through the FIRST-CLASS operator:
    * `similar_to(ea, eb, 0.45)` in an inner-join condition, which
    * `plans.SimilarityJoinRewrite` rewrites into the band-join +
    * exact-verify shape the two-step API (`lshCandidatePairs` +
    * `verifiedPairs`, kept below as the explicit-recipe form) builds
    * by hand — a SQL user gets the operator without knowing the
    * banding recipe. PlanSpec gates that the rewrite fires (no BNLJ).
    *
    * Since round 11 the banding is CORPUS-SIZED, not static: the
    * round-8 sf1 ladder measured the fixed 32/4 default going 19.6×
    * for 10× data (bucket occupancy n/2^r doubles with the corpus),
    * so the band width is now `api.AutoTune.lshR(n)` — the smallest
    * r ∈ [4,22] with 128·2^r ≥ n (round 17: cap raised from 11 with
    * the 1024-bit rewrite ceiling) — with (nBits, bands) = (2r², 2r),
    * carried explicitly on the predicate (session confs still
    * override). On the gate corpora (500 / 2000 rows) the derivation
    * yields r=4 → exactly the historical 32/4 plan; at sf1-scale
    * (20000 rows) it yields the measured-good 128/8 with no manual
    * conf. The derivation is integer-shift arithmetic, replayed
    * EXACTLY by the oracle's `rp` CTE — no transcendental log whose
    * rounding could diverge across engines.
    *
    * FULLY oracle-checked since round 5: `plans.LshSignature`'s
    * Rademacher scramble is the HUGEINT-reproducible Mix64 kernel, so
    * the oracle below replays the exact hyperplane signs (one ±1
    * array per projection, folded over components in Spark's order —
    * bit-identical IEEE sums), the derived 2r×r banding, the
    * candidate join, and the round(cos,4) ≥ 0.45 verify. Since round
    * 13 the replay is per-band-LANE (band b's bits come from word
    * b // (64 // r) at the engine's seed stride), so it covers ANY
    * derived r including the multi-word r > 5 regime — hash-gated at
    * sf1 (r=8, two words, `CORRECTNESS_r13_sf1_sample.json`), where
    * the old single-word form overflowed 64-bit shifts. The
    * LSH approximation is in the result BY DESIGN; the oracle
    * reproduces the same approximation, so rows+schema+hash all gate.
    */
  val q60HyperplaneLsh = QueryDef(
    "q60_hyperplane_lsh",
    "cosine-LSH near-dup via the similar_to join operator (corpus-sized banding + exact verify ≥ 0.45)",
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |rp AS MATERIALIZED (SELECT coalesce(min(i), 22) AS r
      |      FROM (SELECT unnest(range(4, 23)) AS i)
      |      WHERE (CAST(128 AS BIGINT) << i) >= (SELECT count(*) FROM t)),
      |-- per-BAND bit lanes (round 13): band b draws bits [off, off+r)
      |-- of signature word w = b // (64 // r), word w's lanes seeded at
      |-- 7 + w*2685821657736338717 (the engine's seed stride). Computing
      |-- band keys lane-by-lane keeps every shift < r <= 22, so the
      |-- replay also covers derived r > 5 (nBits > 64), where the old
      |-- single-word form overflowed BIGINT shifts at sf1 scale.
      |bd AS (SELECT b, r, b // (64 // r) AS w, (b % (64 // r)) * r AS off
      |       FROM (SELECT unnest(range(0, 2*r)) AS b, r FROM rp)),
      |lanes AS (SELECT bd.b, bd.w, bd.off + p.p AS i, p.p
      |          FROM bd JOIN (SELECT unnest(range(0, (SELECT r FROM rp))) AS p) p
      |          ON p.p < bd.r),
      |ij AS (SELECT l.b, l.w, l.i, l.p, j.j
      |       FROM lanes l
      |       CROSS JOIN (SELECT unnest(range(1, 1 + (SELECT max(len(v)) FROM t))) AS j) j),
      |z0 AS (SELECT b, p, j,
      |        (CAST(7 AS HUGEINT) + CAST(w AS HUGEINT)*2685821657736338717
      |         + CAST(i AS HUGEINT)*6364136223846793005
      |         + CAST(j AS HUGEINT)*1442695040888963407) % 18446744073709551616 AS z FROM ij),
      |z1 AS (SELECT b, p, j, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM z0),
      |z2 AS (SELECT b, p, j, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM z1),
      |sg AS (SELECT b, p, list(CASE WHEN xor(z, z >> 31) % 2 = 1 THEN -1.0 ELSE 1.0 END ORDER BY j) AS sgn
      |       FROM z2 GROUP BY b, p),
      |pr AS (SELECT t.vec_id, sg.b, sg.p,
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(t.v) + 1), j -> t.v[j] * sg.sgn[j])),
      |          (a, x) -> a + x) AS proj
      |       FROM t CROSS JOIN sg),
      |bands AS (SELECT vec_id,
      |            (CAST(b AS BIGINT) << (SELECT r FROM rp))
      |              + CAST(sum(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bk
      |          FROM pr GROUP BY vec_id, b),
      |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |         FROM bands x JOIN bands y ON x.bk = y.bk AND x.vec_id < y.vec_id)
      |SELECT vec_a, vec_b, cos_sim FROM (
      |  SELECT vec_a, vec_b,
      |    round(list_dot_product(a.v, b.v)
      |          / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) AS cos_sim
      |  FROM cand JOIN t a ON a.vec_id = cand.vec_a JOIN t b ON b.vec_id = cand.vec_b)
      |WHERE cos_sim >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // The band-verify cost scales with CANDIDATE PAIRS, not input
    // bytes: a small single-file table would otherwise run the whole
    // quadratic-in-bucket verify in ONE task (measured 2.3 s serial of
    // q60's 2.6 s at sf0.1). Hash-repartitioning the probe side makes
    // verify parallelism follow the cluster; the partition count is
    // pinned to defaultParallelism because AQE would coalesce a
    // bytes-tiny shuffle back to one partition — the skew is in the
    // downstream verify compute, which AQE can't see. The build side
    // stays unrepartitioned — the rewrite broadcasts it anyway.
    val a = t.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    // corpus-sized banding, carried on the predicate (see scaladoc):
    // one memoized count(*) per session derives (2r², r)
    val (nb, r) = graft.api.AutoTune.lshParams(graft.api.AutoTune.corpusRows(s, d))
    a.join(b,
        GraftFunctions.similarTo(col("ea"), col("eb"), 0.45, nb, r) &&
          col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Quantized vector search — the int8 payload-compression variant
    * of q38. Vectors are max-abs scalar-quantized by the native
    * `quantize_i8` expression (4× smaller payload: at 100 TB the
    * corpus-side shuffle/cache working set shrinks identically), then
    * ranked with the same broadcast + bounded partial top-k aggregate
    * plan as the float baseline. Because quantized components are
    * exact small integers, every dot product is EXACT in doubles and
    * the cosine is bit-identical to the DuckDB `list_transform` twin —
    * a full hash-checked oracle, not a tolerance gate. Quantization
    * quality (recall@10 vs the float baseline) is pinned separately
    * in HygieneSpec.
    */
  val q76QuantizedTopk = QueryDef(
    "q76_quantized_topk",
    "int8-quantized cosine top-10 (native quantize_i8 + partial top-k aggregate)",
    """WITH t AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> floor(x * (127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))) + 0.5)) AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, qv AS qqv FROM t WHERE vec_id < 10)
      |SELECT q_id, vec_id AS n_id, round(cs, 6) AS cos_sim, rn
      |FROM (
      |  SELECT q.q_id, t.vec_id,
      |    list_dot_product(q.qqv, t.qv)
      |      / sqrt(list_dot_product(q.qqv, q.qqv) * list_dot_product(t.qv, t.qv)) AS cs,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      list_dot_product(q.qqv, t.qv)
      |        / sqrt(list_dot_product(q.qqv, q.qqv) * list_dot_product(t.qv, t.qv)) DESC,
      |      t.vec_id) AS rn
      |  FROM q, t
      |  WHERE t.vec_id <> q.q_id)
      |WHERE rn <= 10
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), GraftFunctions.quantizeI8(col("embedding")).as("qv"))
    val q = t.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"))
    rerankTopk(t.crossJoin(broadcast(q)), "qqv", "qv", 10)
  }

  /** SemDeDup core (cluster-then-dedup, Abbas et al. 2023): k-means
    * cluster the embeddings, generate candidate pairs ONLY within a
    * cluster, verify exactly, and drop every vector that has a
    * smaller-id partner at cosine ≥ threshold in its cluster (min-id
    * is the kept representative — the deterministic stand-in for the
    * paper's medoid-distance choice). Exposed for the quality spec,
    * which drives it with planted-duplicate fixtures.
    *
    * Scale shape: assignment is the broadcast argmax (no corpus
    * shuffle); within-cluster pairs reuse q37's salted-block guard,
    * so a hot cluster is split into ≤ `MaxLabelBlock` sub-blocks and
    * no task goes quadratic in the cluster size. At 100 TB, k grows
    * with the corpus (the paper's regime: n/k docs per cluster) —
    * candidate volume is Σ(cluster²/salt), bounded by the guard.
    */
  private[graft] def semanticDedup(
      s: SparkSession, t: DataFrame, k: Int, iters: Int,
      threshold: Double, centsOpt: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(s)
    val cents = centsOpt.getOrElse(trainCentroids(s, t, k, iters))
    // one assignment pass, shared by pair generation (twice inside
    // the salted self-join) and the final keep/drop join
    val assigned = graft.Reuse.query(
      assignCells(t, cents, "embedding")
        .select(col("vec_id"), col("c_id").as("label"), col("embedding")))
    val dropped = DedupQueries
      .saltedLabelPairs(assigned, DedupQueries.MaxLabelBlock)
      .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4)
        >= threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(true))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label").as("cluster"),
        (!coalesce(col("dup"), lit(false))).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** Memoized corpus k-means assignment `(vec_id, label, embedding)`
    * at the q89 config (k=16, 4 Lloyd iters over the memoized
    * [[corpusCentroids]]) — the one assignment pass q89's keep/drop
    * and q234's semantic-cluster split both read. At 100 TB this is
    * a written table, not a memo (the clusterAssignments discipline).
    */
  private[graft] def semanticAssigned(s: SparkSession, d: String): DataFrame =
    graft.Reuse.session(s, "sem.assigned:" + d) {
      GraftFunctions.register(s)
      val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cents = corpusCentroids(s, d, k = 16, iters = 4)
      assignCells(t, cents, "embedding")
        .select(col("vec_id"), col("c_id").as("label"), col("embedding"))
    }

  /** Memoized SEMANTIC near-dup pairs `(vec_a < vec_b)` — the q89
    * within-cluster round(cos,4) ≥ 0.85 verified pair set exposed as
    * a relation, so component-level consumers (q234's leakage-safe
    * split) and the keep/drop report share ONE salted pair scan per
    * (session, corpus). Scale shape inherited from
    * [[DedupQueries.saltedLabelPairs]]: candidate volume is
    * Σ(cluster²/salt) with per-task work bounded by `MaxLabelBlock`.
    */
  private[graft] def semanticPairs(s: SparkSession, d: String): DataFrame =
    // durable when spark.graft.memo.dir is set: keyed by the
    // embeddings corpus fingerprint, so the Lloyd iterations and
    // salted pair scan are paid once per snapshot, not per session
    graft.Reuse.session(s, "sempairs:" + d,
        Seq(Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding")))) {
      GraftFunctions.register(s)
      DedupQueries.saltedLabelPairs(semanticAssigned(s, d),
          DedupQueries.MaxLabelBlock)
        .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4)
          >= 0.85)
        .select(col("vec_a"), col("vec_b"))
    }

  /** Semantic dedup over the embeddings table. FULLY oracle-checked
    * since round 5 (same exact-integer Lloyd machinery as q39): the
    * oracle replays four unrolled training iterations, the
    * full-corpus assignment, the within-cluster round(cos,4) ≥ 0.85
    * pair scan, and the min-id keep/drop decision. `DedupQualitySpec`
    * additionally pins the quality contract: precision 1 (every
    * dropped vector has a genuine ≥ threshold partner, re-checked by
    * brute force) and recall ≈ 1 on planted high-similarity
    * duplicates. Since round 13 the assignment and verified-pair
    * relations are the shared [[semanticAssigned]]/[[semanticPairs]]
    * memos q234 (semantic-cluster leakage-safe split) also reads —
    * same rows as the inlined [[semanticDedup]] pipeline, paid once.
    */
  val q89SemanticDedup = QueryDef(
    "q89_semantic_dedup",
    "SemDeDup: k-means clusters, within-cluster cos>=0.85 near-dups dropped, min-id kept",
    s"""${ivfPreambleSql(4)},
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM asgn a JOIN asgn b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v)
       |        / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) >= 0.85)
       |SELECT a.vec_id, a.c_id AS cluster, d.vec_id IS NULL AS is_kept
       |FROM asgn a LEFT JOIN dropped d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
    val dropped = semanticPairs(s, d)
      .select(col("vec_b").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(true))
    semanticAssigned(s, d)
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label").as("cluster"),
        (!coalesce(col("dup"), lit(false))).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-distribution drift between corpus snapshots — the
    * monitoring read a pipeline runs after every refresh: per label,
    * the cosine between the OLD snapshot's centroid (vec_id % 10 ≠ 0
    * plays the previous corpus) and the CURRENT one. A drop flags a
    * shifted cluster (ingest bug, upstream distribution change)
    * before it poisons the trained ANN/SemDeDup structures built on
    * those centroids.
    *
    * Exactness across engines uses the established exact-integer
    * trick (q39/q89's Lloyd oracle): dims quantize to
    * ⌊x·10⁴⌋ BIGINT, per-(label, dim) sums / dot products / norms
    * are all exact integer arithmetic, and cosine(Σa, Σb) =
    * cosine(mean_a, mean_b) since the counts cancel — so no division
    * happens until the final rounded double. Scale shape: one
    * explode + one partial+final (label, dim) aggregate — the sums
    * relation is |labels|·|dims| rows of metadata; nothing else
    * shuffles. Overflow headroom: |q| ≤ 10⁴, so a dot term needs
    * ~10⁹ same-label rows per dim to threaten 2⁶³ — repartition the
    * quantization to ⌊x·10²⌋ at that scale.
    */
  val q110CentroidDrift = QueryDef(
    "q110_centroid_drift",
    "per-label centroid cosine drift between the old snapshot (vec_id%10!=0) and the full corpus",
    """WITH dims AS MATERIALIZED (
      |  SELECT label, vec_id,
      |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000) AS BIGINT) AS q,
      |    CAST(i AS INT) AS dim
      |  FROM (SELECT label, vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |sums AS MATERIALIZED (
      |  SELECT label, dim,
      |    CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN q ELSE 0 END) AS BIGINT) AS qa,
      |    CAST(sum(q) AS BIGINT) AS qb
      |  FROM dims GROUP BY label, dim),
      |agg AS (
      |  SELECT label,
      |    CAST(sum(qa * qb) AS BIGINT) AS dot,
      |    CAST(sum(qa * qa) AS BIGINT) AS na,
      |    CAST(sum(qb * qb) AS BIGINT) AS nb
      |  FROM sums GROUP BY label),
      |cnt AS (
      |  SELECT label,
      |    CAST(count(CASE WHEN vec_id % 10 <> 0 THEN 1 END) AS BIGINT) AS n_old,
      |    CAST(count(*) AS BIGINT) AS n_new
      |  FROM embeddings GROUP BY label)
      |SELECT label,
      |  round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cos_drift,
      |  n_old, n_new
      |FROM agg JOIN cnt USING (label)
      |ORDER BY label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val dims = e
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("vec_id"), col("dim"),
        floor(col("x").cast("double") * 10000).cast("long").as("q"))
    val sums = dims.groupBy(col("label"), col("dim"))
      .agg(sum(when(col("vec_id") % 10 =!= 0, col("q")).otherwise(0L)).as("qa"),
        sum(col("q")).as("qb"))
    val agg = sums.groupBy(col("label"))
      .agg(sum(col("qa") * col("qb")).as("dot"),
        sum(col("qa") * col("qa")).as("na"),
        sum(col("qb") * col("qb")).as("nb"))
    val cnt = e.groupBy(col("label"))
      .agg(count(when(col("vec_id") % 10 =!= 0, lit(1))).as("n_old"),
        count(lit(1)).as("n_new"))
    agg.join(cnt, "label")
      .select(col("label"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cos_drift"),
        col("n_old"), col("n_new"))
      .orderBy(col("label"))
  }

  /** Deterministic negative sampling for contrastive training — for
    * each anchor vector, K pseudorandom negatives drawn from
    * DIFFERENT-label vectors. The "random" draw is the codegen'd
    * `mix64` of (anchor, candidate) — reproducible across runs,
    * engines and partitionings (the q103 contract: no `rand()` in a
    * training pipeline), replayed bit-exactly by the oracle's HUGEINT
    * chain. The hash is shifted to 52 unsigned bits before entering
    * the double-scored top-k aggregate so no precision is lost.
    *
    * Scale shape: the anchor set is bounded (a query/batch), so it
    * broadcasts; candidates stream through ONE pass with a bounded
    * per-anchor top-k aggregate (`plans/TopKAgg` — the q38 shape);
    * nothing corpus-scale shuffles.
    */
  val q134NegativeSampling = QueryDef(
    "q134_negative_sampling",
    "contrastive negative sampling: mix64-scored different-label top-4 per anchor, broadcast anchors + bounded top-k",
    """WITH a AS (SELECT vec_id AS a_id, label AS a_label FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id, label FROM embeddings),
      |z0 AS (SELECT a_id, vec_id,
      |         CAST(a_id * 1000003 + vec_id AS HUGEINT) AS z
      |       FROM a, c WHERE c.label <> a.a_label),
      |m1 AS (SELECT a_id, vec_id,
      |         (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM z0),
      |m2 AS (SELECT a_id, vec_id,
      |         (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
      |u AS (SELECT a_id, vec_id, xor(z, z >> 31) // 4096 AS u52 FROM m2)
      |SELECT a_id, vec_id AS neg_id, CAST(rn AS INT) AS rn FROM (
      |  SELECT a_id, vec_id,
      |    row_number() OVER (PARTITION BY a_id ORDER BY u52 DESC, vec_id) AS rn
      |  FROM u)
      |WHERE rn <= 4
      |ORDER BY a_id, rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"))
    e.select(col("vec_id"), col("label"))
      .join(broadcast(anchors), col("label") =!= col("a_label"))
      .withColumn("u52",
        shiftrightunsigned(
          GraftFunctions.mix64(col("a_id") * 1000003L + col("vec_id")), 12)
          .cast("double"))
      .groupBy(col("a_id"))
      .agg(GraftFunctions.topkByScore(col("u52"), col("vec_id"), 4).as("top"))
      .select(col("a_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("a_id"), col("t.id").as("neg_id"),
        (col("i") + 1).cast("int").as("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** Top principal component of the embedding corpus by power
    * iteration — the spectral monitoring read behind embedding-drift
    * dashboards and PCA-whitening pre-passes: the dominant direction
    * plus its explained-variance share. A collapsing embedding model
    * (all vectors drifting onto one axis) shows up as var_share_bp
    * spiking long before downstream ANN recall degrades.
    *
    * Distributed/driver split is the BpeTrainer/IVF precedent: the
    * DATA-sized work is ONE corpus scan through the native
    * `gram_sums` TypedImperativeAggregate ([[graft.plans.GramSumAgg]])
    * — quantized n/S_i/G_ij moments in a single ~2 KB-per-partition
    * buffer, partial+final, nothing row-sized shuffled — and the
    * d×d = 64² covariance n·G − S·Sᵀ is then iterated on the driver
    * (metadata-bounded: 4 096 exact integers). 400 fixed iterations
    * with integer renormalization v ← trunc(w·10⁵ / max|w|) keep
    * every step in exact BigInt arithmetic, so the DuckDB twin
    * (recursive CTE over the same HUGEINT covariance) replays the
    * identical orbit and the result is hash-exact — the established
    * deterministic-iteration contract (q39/q89's unrolled Lloyd).
    * Convergence at the test corpus' λ₂/λ₁ ≈ 0.987: cosine vs the
    * true eigenvector 0.999995 (StatisticsSpec gates ≥ 0.999).
    *
    * Overflow headroom: iteration terms stay < 10³⁸ to N ≈ 10⁸ rows
    * at |x| ≤ 1; the Rayleigh var-share numerator 10⁴·vᵀMv is the
    * binding bound, N ≲ 2·10⁶ in DuckDB's HUGEINT (the Scala BigInt
    * side is unbounded — q159's documented divergence class). Beyond
    * that, drop the quantization scale 10⁴ → 10² as in q110.
    *
    * Reference analogue: R9/R10 aggregate algebra + the driver-side
    * merge-loop split of `reference/src/master_manager.c:96-145`.
    */
  val q188PowerIteration = QueryDef(
    "q188_power_iteration",
    "top principal component via exact-integer power iteration over one-pass gram_sums moments",
    """WITH RECURSIVE dims AS MATERIALIZED (
      |  SELECT vec_id, CAST(i AS INT) - 1 AS dim,
      |    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000) AS BIGINT) AS q
      |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |sums AS MATERIALIZED (SELECT dim, CAST(sum(q) AS HUGEINT) AS s FROM dims GROUP BY dim),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
      |gram AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS HUGEINT) AS g
      |         FROM dims a JOIN dims b ON a.vec_id = b.vec_id
      |         GROUP BY a.dim, b.dim),
      |cov AS MATERIALIZED (SELECT i, j, nn.n * g - si.s * sj.s AS m
      |        FROM gram CROSS JOIN nn
      |        JOIN sums si ON si.dim = gram.i
      |        JOIN sums sj ON sj.dim = gram.j),
      |pi AS (
      |  SELECT 0 AS iter, dim, CAST(100000 AS HUGEINT) AS v FROM sums
      |  UNION ALL
      |  SELECT iter, dim,
      |    CASE WHEN w < 0 THEN -(((-w) * 100000) // mx)
      |         ELSE (w * 100000) // mx END AS v
      |  FROM (
      |    SELECT p.iter + 1 AS iter, c.i AS dim,
      |      sum(c.m * p.v) AS w,
      |      max(abs(sum(c.m * p.v))) OVER () AS mx
      |    FROM pi p JOIN cov c ON c.j = p.dim
      |    WHERE p.iter < 400
      |    GROUP BY p.iter + 1, c.i)),
      |vfin AS MATERIALIZED (SELECT dim, v FROM pi WHERE iter = 400),
      |rq AS MATERIALIZED (SELECT CAST(sum(a.v * c.m * b.v) AS HUGEINT) AS num
      |       FROM cov c JOIN vfin a ON a.dim = c.i JOIN vfin b ON b.dim = c.j),
      |vv AS MATERIALIZED (SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM vfin),
      |tr AS MATERIALIZED (SELECT CAST(sum(m) AS HUGEINT) AS t FROM cov WHERE i = j)
      |SELECT dim, CAST(v AS BIGINT) AS loading_q5,
      |  CAST((10000 * num) // (den * t) AS BIGINT) AS var_share_bp
      |FROM vfin CROSS JOIN rq CROSS JOIN vv CROSS JOIN tr
      |ORDER BY dim""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    import s.implicits._
    val aggRow = Tables.embeddings(s, d)
      .agg(GraftFunctions.gramSums(col("embedding")).as("g")).head
    // empty corpus: the buffer-typed aggregate evaluates to NULL —
    // zero output rows, never a throw (EmptyInputSpec totality)
    if (aggRow.isNullAt(0)) {
      Seq.empty[(Int, Long, Long)].toDF("dim", "loading_q5", "var_share_bp")
    } else {
    val flat = aggRow.getSeq[Long](0)
    val dim = flat(0).toInt
    val n = BigInt(flat(1))
    val sums = Array.tabulate(dim)(i => BigInt(flat(2 + i)))
    val tri = flat.drop(2 + dim)
    // covariance (×n², scale-free for the eigenvector): n·G − S·Sᵀ
    val m = Array.tabulate(dim, dim) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      n * BigInt(tri(graft.plans.GramBuffer.triIndex(lo, hi, dim))) -
        sums(i) * sums(j)
    }
    val VS = BigInt(100000)
    var v = Array.fill(dim)(VS)
    var it = 0
    while (it < 400) {
      val w = Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
      val mx = w.map(_.abs).max
      if (mx == 0) it = 400 // degenerate all-zero covariance: keep v
      else v = w.map(x => if (x < 0) -((-x * VS) / mx) else x * VS / mx)
      it += 1
    }
    var (num, den, trM) = (BigInt(0), BigInt(0), BigInt(0))
    for (i <- 0 until dim) {
      den += v(i) * v(i)
      trM += m(i)(i)
      for (j <- 0 until dim) num += v(i) * m(i)(j) * v(j)
    }
    // all-identical vectors (stuck encoder): the covariance is the
    // zero matrix, trace 0 — report share 0 instead of dividing by
    // zero (the DuckDB twin errors on such a corpus; q159's
    // documented divergent-failure class, degenerate input only)
    val share =
      if (trM == 0) 0L else (BigInt(10000) * num / (den * trM)).toLong
    v.zipWithIndex
      .map { case (x, i) => (i, x.toLong, share) }.toSeq
      .toDF("dim", "loading_q5", "var_share_bp")
      .orderBy(col("dim"))
    }
  }

  /** Embedding isolation audit — the INVERSE read of the SemDeDup
    * machinery (q89 keeps vectors with close partners; this surfaces
    * vectors with NONE): the 20 most isolated corpus vectors by
    * nearest-neighbor cosine within their IVF cell. Corrupt decodes,
    * mislabeled media, and garbage text land far from everything —
    * this is the audit table a curation pipeline eyeballs before
    * trusting its embedding space.
    *
    * Scale shape: the SAME cluster-then-verify shape as q89 — never
    * all-pairs. Full-corpus assignment is a broadcast argmax over the
    * 16 deterministic Lloyd centroids (one scan), the neighbor probe
    * is a c_id-keyed SELF-join (Σ|cell|² pairs, not N²), and the
    * per-vector max cosine is a partial-aggregable groupBy. Isolation
    * is RELATIVE to the probed cell (a vector near a cell boundary
    * may understate its true neighbor) — the standard IVF
    * approximation, same contract as q39's recall < 1. Singleton-cell
    * vectors have no in-cell partner: best_sim NULL, ranked most
    * isolated via an explicit coalesce(−2) key (Spark sorts NULLs
    * first ASC, DuckDB last — never rely on engine NULL order). The
    * final top-20 is a TakeOrdered, not a global sort.
    *
    * The in-cell pair volume is Σ|cell|² ≈ N²/k: at FIXED k it grows
    * quadratically (measured 3.9× wall for 10× data on the sf1
    * ladder at the old static k=16), so since round 11 the cell
    * count is CORPUS-DERIVED: k = `api.AutoTune.isolationK(n)` =
    * max(16, min(⌈√n⌉, n div 32)) — √n balances the n·k assignment
    * and n²/k pair stages (both N^1.5; see AutoTune for the
    * small-corpus cell-size clamp) — with `spark.graft.isolation.k`
    * as the explicit session override. `sqrt`/`ceil`/`div` are exact
    * IEEE/integral in both engines, so the oracle's
    * `greatest(16, least(ceil(sqrt(count(*))), count(*) // 32))` derives the identical
    * k and the unrolled-Lloyd replay stays bit-identical (gate
    * corpora: k=16 at n=500 — the historical default — and k=45 at
    * n=2000).
    *
    * Oracle: the proven q39/q89 unrolled-Lloyd preamble replays
    * training + assignment; per-pair cosines are the reproducible
    * fixed-order double dot products both engines compute bit-alike.
    */
  val q191IsolationAudit = QueryDef(
    "q191_isolation_audit",
    "embedding isolation audit: 20 most-isolated vectors by in-cell nearest-neighbor cosine",
    s"""${ivfPreambleSql(6, "(SELECT greatest(16, least(CAST(ceil(sqrt(count(*))) AS BIGINT), count(*) // 32)) FROM t)")},
       |pairsim AS (SELECT a.vec_id, a.c_id,
       |    max(list_dot_product(a.v, b.v) /
       |        sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))) AS bs
       |  FROM asgn a JOIN asgn b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, a.c_id),
       |allv AS (SELECT a.vec_id, a.c_id, p.bs
       |         FROM asgn a LEFT JOIN pairsim p ON p.vec_id = a.vec_id)
       |SELECT vec_id, c_id, best_sim, rn FROM (
       |  SELECT vec_id, CAST(c_id AS INT) AS c_id, round(bs, 6) AS best_sim,
       |    CAST(row_number() OVER (ORDER BY coalesce(bs, -2) ASC, vec_id) AS INT) AS rn
       |  FROM allv)
       |WHERE rn <= 20
       |ORDER BY rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    // corpus-derived k (≈√N) unless the session conf pins it — the
    // same override-beats-derivation precedence as the LSH banding
    val k = graft.api.AutoTune.isolationKFor(s, d)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val assigned = assignCells(t, corpusCentroids(s, d, k = k, iters = 6),
      "embedding")
    val bs = assigned.as("a")
      .join(assigned.as("b"), col("a.c_id") === col("b.c_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.c_id").as("c_id"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cs"))
      .groupBy(col("vec_id"), col("c_id")).agg(max(col("cs")).as("bs"))
    assigned.select(col("vec_id"), col("c_id"))
      .join(bs.select(col("vec_id"), col("bs")), Seq("vec_id"), "left_outer")
      .orderBy(coalesce(col("bs"), lit(-2d)).asc, col("vec_id"))
      .limit(20)
      // rank over the 20 SURVIVING rows on the RAW score (rounding
      // only at output, like q39 — ranking on rounded values could
      // disagree with the selection order at a rounding boundary)
      .withColumn("rn", row_number()
        .over(Window.orderBy(coalesce(col("bs"), lit(-2d)).asc,
          col("vec_id"))).cast("int"))
      .select(col("vec_id"), col("c_id").cast("int").as("c_id"),
        round(col("bs"), 6).as("best_sim"), col("rn"))
      .orderBy(col("rn"))
  }

  /** Maximal Marginal Relevance (MMR, Carbonell & Goldstein 1998) —
    * DIVERSIFIED top-k: plain cosine top-k returns near-duplicates of
    * each other (this corpus's near-dup clusters guarantee it); MMR
    * greedily picks argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so
    * each pick is relevant AND far from what's already selected — the
    * retrieval-diversity pass RAG pipelines and dedup-aware samplers
    * run after candidate generation.
    *
    * Exactness: similarities are int8-quantized cosines (the q76
    * kernel — integer dot products exactly representable in DOUBLE,
    * then IEEE sqrt/divide, bit-equal across engines); λ = 0.7 and
    * the per-step argmax break ties by n_id, so all 5 greedy steps
    * are engine-replayable (5 unrolled MATERIALIZED CTEs, the q192
    * convention).
    *
    * Scale shape: the EXPENSIVE part is candidate generation — one
    * broadcast-query pass with the bounded partial `topk_by_score`
    * aggregate (never a corpus window). Everything after is bounded
    * by queries×20 candidates: the candidates (broadcast) pick up
    * their vectors in one map-side pass over the embeddings, which
    * quantizes only the matched rows; they gather per query, and one
    * task per query runs the 5-step greedy ([[mmrGreedy]], ≤ 20·4
    * pairwise cosines), so the whole query is one lazy plan with no
    * driver loop or checkpoint. At 100 TB the candidate stage rides
    * the IVF index (q39) unchanged; the MMR tail adds that one
    * embeddings scan, and its greedy is corpus-independent.
    */
  val q200MmrDiversified: QueryDef = {
    def step(i: Int): String = {
      val prev = s"sel${i - 1}"
      s"""m$i AS MATERIALIZED (SELECT p.q_id, p.x AS n_id, max(p.cp) AS ms
         |  FROM pr p JOIN $prev s ON s.q_id = p.q_id AND s.n_id = p.y
         |  GROUP BY p.q_id, p.x),
         |s$i AS MATERIALIZED (SELECT q_id, n_id, score FROM (
         |  SELECT c.q_id, c.n_id, 0.7 * c.csq - 0.3 * m.ms AS score,
         |    row_number() OVER (PARTITION BY c.q_id ORDER BY 0.7 * c.csq - 0.3 * m.ms DESC, c.n_id) AS rn
         |  FROM cand c JOIN m$i m ON m.q_id = c.q_id AND m.n_id = c.n_id
         |  ANTI JOIN $prev s ON s.q_id = c.q_id AND s.n_id = c.n_id) WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT q_id, n_id, $i AS rank, score FROM s$i)""".stripMargin
    }
    QueryDef(
      "q200_mmr_diversified",
      "MMR diversified top-5 (lambda=0.7) over int8-cosine top-20 candidates, 5 greedy argmax rounds",
      s"""WITH t AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> floor(x * (127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))) + 0.5)) AS qv
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, qv AS qqv FROM t WHERE vec_id < 5),
         |cs AS MATERIALIZED (
         |  SELECT q.q_id, t.vec_id AS n_id,
         |    list_dot_product(q.qqv, t.qv)
         |      / sqrt(list_dot_product(q.qqv, q.qqv) * list_dot_product(t.qv, t.qv)) AS csq,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      list_dot_product(q.qqv, t.qv)
         |        / sqrt(list_dot_product(q.qqv, q.qqv) * list_dot_product(t.qv, t.qv)) DESC,
         |      t.vec_id) AS rn
         |  FROM q, t WHERE t.vec_id <> q.q_id),
         |cand AS MATERIALIZED (SELECT q_id, n_id, csq FROM cs WHERE rn <= 20),
         |pr AS MATERIALIZED (
         |  SELECT a.q_id, a.n_id AS x, b.n_id AS y,
         |    list_dot_product(tx.qv, ty.qv)
         |      / sqrt(list_dot_product(tx.qv, tx.qv) * list_dot_product(ty.qv, ty.qv)) AS cp
         |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
         |  JOIN t tx ON tx.vec_id = a.n_id JOIN t ty ON ty.vec_id = b.n_id),
         |sel1 AS MATERIALIZED (SELECT q_id, n_id, 1 AS rank, 0.7 * csq AS score FROM (
         |  SELECT q_id, n_id, csq, row_number() OVER (PARTITION BY q_id ORDER BY csq DESC, n_id) AS rn
         |  FROM cand) WHERE rn = 1),
         |${(2 to 5).map(step).mkString(",\n")}
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, round(score, 6) AS mmr_score
         |FROM sel5 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      GraftFunctions.register(s)
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), GraftFunctions.quantizeI8(col("embedding")).as("qv"))
      val q = t.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qv").as("qqv"))
      // candidate generation: the one corpus-sized stage (q76 kernel)
      val cand = t.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cs", GraftFunctions.cosineSim(col("qqv"), col("qv")))
        .groupBy(col("q_id"))
        .agg(GraftFunctions.topkByScore(col("cs"), col("vec_id"), 20).as("top"))
        .select(col("q_id"), explode(col("top")).as("e"))
        .select(col("q_id"), col("e.id").as("n_id"), col("e.score").as("csq"))
      // the MMR tail: each query's ≤ 20 candidates pick up their
      // vectors (quantized after the join, so only matched rows are)
      // and are greedily diversified inside one task
      import s.implicits._
      Tables.embeddings(s, d).join(broadcast(cand), col("vec_id") === col("n_id"))
        .groupBy(col("q_id"))
        .agg(collect_list(struct(col("n_id"), col("csq"),
          GraftFunctions.quantizeI8(col("embedding")))).as("c"))
        .flatMap { r =>
          val c = r.getSeq[Row](1).map(e => (e.getLong(0), e.getDouble(1),
            ArrayData.toArrayData(e.getSeq[Double](2).toArray)))
          mmrGreedy(c, 5).zipWithIndex.map { case ((n, score), i) =>
            (r.getLong(0), i + 1L, n, score)
          }
        }
        .select(col("_1").as("q_id"), col("_2").as("rank"), col("_3").as("n_id"),
          round(col("_4"), 6).as("mmr_score"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** q200's greedy over one query's candidates (n_id, csq, qv): rank 1
    * is the csq argmax, each later rank the argmax of
    * 0.7·csq − 0.3·max_{s∈S} cos(x, s) over the candidates not yet
    * picked, ties to the lower n_id. Keys are negated and compared
    * as Spark orders doubles (`SQLOrderingUtil.compareDoubles`: NaN
    * greatest, −0.0 = 0.0), so a NaN score (a zero vector) ranks
    * last. Candidates are sorted by n_id and each max over S is
    * folded in rank order, so the picks do not depend on the input
    * order. Returns min(k, |cand|) (n_id, score) pairs in rank order.
    */
  private def mmrGreedy(cand: Seq[(Long, Double, ArrayData)],
      k: Int): Seq[(Long, Double)] = {
    val c = cand.sortBy(_._1).toIndexedSeq
    val ms = Array.fill(c.length)(Double.NegativeInfinity)
    val picked = Array.fill(c.length)(false)
    (0 until math.min(k, c.length)).map { rank =>
      def score(i: Int): Double =
        if (rank == 0) 0.7 * c(i)._2 else 0.7 * c(i)._2 - 0.3 * ms(i)
      def key(i: Int): Double = if (rank == 0) -c(i)._2 else -score(i)
      val best = c.indices.filterNot(picked(_)).reduce { (a, b) =>
        if (SQLOrderingUtil.compareDoubles(key(b), key(a)) < 0) b else a
      }
      picked(best) = true
      val pick = (c(best)._1, score(best))
      c.indices.filterNot(picked(_)).foreach { i =>
        val cp = CosineSimilarity.cosine(c(i)._3, false, c(best)._3, false)
        if (SQLOrderingUtil.compareDoubles(cp, ms(i)) > 0) ms(i) = cp
      }
      pick
    }
  }

  /** Product-quantization (PQ) approximate search — the memory-bound
    * scale path beyond q76's scalar int8: each 64-dim vector is
    * encoded as EIGHT 4-bit codes (one per 8-dim subspace, nearest of
    * 16 codewords), a 64×+ payload compression, and queries rank the
    * corpus by ASYMMETRIC DISTANCE (ADC, Jégou et al. 2011): the
    * query precomputes its exact distance to every codeword (a
    * 8×16 lookup table) and a candidate's distance is just the SUM of
    * 8 table entries keyed by its codes — no vector math per
    * candidate at all. This is the shape FAISS runs at billion scale;
    * at 100 TB the codes relation is what an executor holds in RAM
    * while the float vectors stay on disk for the (optional) rerank.
    *
    * Codebook: training-free deterministic anchor sample — the 16
    * vectors of lowest mix64(vec_id) (the q134 u52 idiom) donate
    * their subvectors as codewords; code assignment is argmin exact-
    * integer L2² with ties to the lower code. All distances are
    * integer-exact (int8 components, the dot-product identity
    * a·a − 2a·b + b·b), so encode, lookup tables, ADC sums and the
    * top-10 are all hash-gated; `true_dist` reports the exact int8
    * L2² of each returned pair so the approximation error is visible
    * in the result itself.
    *
    * Scale shape: encoding is one broadcast-codebook join over the
    * exploded subvector stream (8 rows/vector, map-side) + a
    * partial-aggregable argmin; ADC is one broadcast of the 640-row
    * query table joined to the codes relation + a (q, vec) partial
    * sum + the bounded `topk_by_score` aggregate — never a window
    * over the corpus, no shuffle wider than the codes relation.
    */
  val q202PqAdcTopk = QueryDef(
    "q202_pq_adc_topk",
    "product-quantization ADC top-10: 8x4-bit codes from a deterministic 16-codeword book, integer-exact asymmetric distances",
    """WITH t AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> floor(x * (127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))) + 0.5)) AS qv
      |  FROM embeddings),
      |z0 AS (SELECT vec_id, CAST(vec_id AS HUGEINT) AS z FROM t),
      |m1 AS (SELECT vec_id, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM z0),
      |m2 AS (SELECT vec_id, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
      |u AS (SELECT vec_id, xor(z, z >> 31) // 4096 AS u52 FROM m2),
      |anch AS (SELECT t.vec_id, t.qv,
      |           CAST(row_number() OVER (ORDER BY u.u52, t.vec_id) - 1 AS BIGINT) AS code
      |         FROM t JOIN u ON u.vec_id = t.vec_id
      |         ORDER BY u.u52, t.vec_id LIMIT 16),
      |subs AS (SELECT unnest(range(0, 8)) AS sub),
      |cb AS MATERIALIZED (
      |  SELECT a.code, s.sub, a.qv[(s.sub*8+1):(s.sub*8+8)] AS cw FROM anch a, subs s),
      |tv AS MATERIALIZED (
      |  SELECT t.vec_id, s.sub, t.qv[(s.sub*8+1):(s.sub*8+8)] AS sv FROM t, subs s),
      |enc AS MATERIALIZED (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT tv.vec_id, tv.sub, cb.code,
      |      row_number() OVER (PARTITION BY tv.vec_id, tv.sub ORDER BY
      |        list_dot_product(tv.sv, tv.sv) - 2*list_dot_product(tv.sv, cb.cw) + list_dot_product(cb.cw, cb.cw),
      |        cb.code) AS rn
      |    FROM tv JOIN cb ON cb.sub = tv.sub) WHERE rn = 1),
      |qd AS MATERIALIZED (
      |  SELECT tv.vec_id AS q_id, tv.sub, cb.code,
      |    list_dot_product(tv.sv, tv.sv) - 2*list_dot_product(tv.sv, cb.cw) + list_dot_product(cb.cw, cb.cw) AS d
      |  FROM tv JOIN cb ON cb.sub = tv.sub WHERE tv.vec_id < 5),
      |adc AS (SELECT qd.q_id, enc.vec_id AS n_id, CAST(sum(qd.d) AS BIGINT) AS adc_dist
      |        FROM enc JOIN qd ON qd.sub = enc.sub AND qd.code = enc.code
      |        WHERE enc.vec_id <> qd.q_id
      |        GROUP BY qd.q_id, enc.vec_id),
      |top AS (SELECT q_id, n_id, adc_dist,
      |          CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS BIGINT) AS rn
      |        FROM adc)
      |SELECT top.q_id, top.rn, top.n_id, top.adc_dist,
      |  CAST(list_dot_product(x.qv, x.qv) - 2*list_dot_product(x.qv, y.qv) + list_dot_product(y.qv, y.qv) AS BIGINT) AS true_dist
      |FROM top JOIN t x ON x.vec_id = top.q_id JOIN t y ON y.vec_id = top.n_id
      |WHERE top.rn <= 10
      |ORDER BY top.q_id, top.rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    // native codegen'd dot (round 17): the HOF spelling evaluated
    // interpreted on the 2.5M-row codebook join below — three dots per
    // row dominated the query; vec_dot is the same sequential double
    // fold compiled to a primitive loop (bit-identical results)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      GraftFunctions.vecDot(a, b)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), GraftFunctions.quantizeI8(col("embedding")).as("qv"))
    // 16 codeword donors: lowest mix64(vec_id) (the q134 u52 idiom)
    val anch = t
      .withColumn("u52",
        shiftrightunsigned(GraftFunctions.mix64(col("vec_id")), 12))
      .orderBy(col("u52"), col("vec_id")).limit(16)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("u52"), col("vec_id"))) - 1)
          .cast("long"))
    def subspaces(df: org.apache.spark.sql.DataFrame) = df
      .select(col("*"), explode(expr(
        "transform(sequence(0, 7), s -> struct(cast(s as bigint) as sub, slice(qv, s*8+1, 8) as sv))"))
        .as("e"))
      .select(col("*"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .drop("e", "qv")
    // 128-row codebook, broadcast below
    val cb = graft.Reuse.query(subspaces(anch.select(col("code"), col("qv")))
      .select(col("code"), col("sub"), col("sv").as("cw")))
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
    val tv = subspaces(t)
    // encode: broadcast-codebook join, exact-integer argmin per
    // (vector, subspace), ties to the lower code
    val enc = tv.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"), col("code"), l2(col("sv"), col("cw")).as("dist"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
    // query→codeword lookup tables: 5 queries × 8 subs × 16 codes
    val qd = graft.Reuse.query(tv.filter(col("vec_id") < 5)
      .join(broadcast(cb), "sub")
      .select(col("vec_id").as("q_id"), col("sub"), col("code"),
        l2(col("sv"), col("cw")).as("d")))
    val adc = enc.join(broadcast(qd), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val top = adc.groupBy(col("q_id"))
      .agg(GraftFunctions.topkByScore((-col("adc_dist")).cast("double"),
        col("vec_id"), 10).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rn"),
        col("e.id").as("n_id"),
        (-col("e.score")).cast("long").as("adc_dist"))
    top
      .join(t.select(col("vec_id").as("q_id"), col("qv").as("xv")), "q_id")
      .join(t.select(col("vec_id").as("n_id"), col("qv").as("yv")), "n_id")
      .select(col("q_id"), col("rn"), col("n_id"), col("adc_dist"),
        l2(col("xv"), col("yv")).cast("long").as("true_dist"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Reciprocal nearest neighbors (mutual-kNN) — the high-precision
    * pair filter bitext mining and SemDeDup-style pruning run after
    * candidate generation: a pair survives only if EACH side ranks
    * the other in its top-3, which kills the asymmetric hub matches
    * (a generic vector that half the corpus points at but that points
    * elsewhere) that plain top-k keeps. Output: the 50 strongest
    * mutual pairs with their cell and cosine.
    *
    * Scale shape: the q191 cell-blocked convention — neighbor lists
    * are computed WITHIN IVF cells (corpus-derived k ≈ √N via
    * `AutoTune`, memoized `corpusCentroids`), so the pair stage is
    * Σ|cell|² ≈ N^1.5, never N²; per-vector top-3 is the bounded
    * `topk_by_score` partial aggregate (no per-vector window), the
    * mutuality check is one equi self-join on the (u,v) key, and the
    * final 50 ride TakeOrdered. At 100 TB this is the
    * assign→in-cell-rank→mutual-join pipeline unchanged.
    *
    * Oracle: the unrolled-Lloyd IVF preamble (q39/q89/q191 share it,
    * CTE-MATERIALIZED) + a top-3 window + a self-join.
    */
  val q203MutualKnn = QueryDef(
    "q203_mutual_knn",
    "reciprocal nearest neighbors: in-cell top-3 both ways (IVF cells, corpus-derived k), 50 strongest mutual pairs",
    s"""${ivfPreambleSql(6, "(SELECT greatest(16, least(CAST(ceil(sqrt(count(*))) AS BIGINT), count(*) // 32)) FROM t)")},
       |nb AS MATERIALIZED (SELECT u, v, c_id, cs FROM (
       |  SELECT a.vec_id AS u, b.vec_id AS v, a.c_id,
       |    list_dot_product(a.v, b.v) /
       |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cs,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.v, b.v) /
       |        sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) DESC,
       |      b.vec_id) AS rn
       |  FROM asgn a JOIN asgn b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id)
       |  WHERE rn <= 3),
       |mut AS (SELECT t1.u, t1.v, t1.c_id, t1.cs
       |        FROM nb t1 JOIN nb t2 ON t2.u = t1.v AND t2.v = t1.u
       |        WHERE t1.u < t1.v)
       |SELECT u, v, CAST(c_id AS INT) AS c_id, round(cs, 6) AS cos_sim,
       |  CAST(rn AS INT) AS rn
       |FROM (SELECT u, v, c_id, cs,
       |        row_number() OVER (ORDER BY cs DESC, u, v) AS rn FROM mut)
       |WHERE rn <= 50
       |ORDER BY rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val k = graft.api.AutoTune.isolationKFor(s, d)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val assigned = assignCells(t, corpusCentroids(s, d, k = k, iters = 6),
      "embedding")
    // in-cell top-3 neighbor lists: bounded partial aggregate, the
    // pair stage is Σ|cell|² on the ≈√N-cell assignment
    val nb = assigned.as("a")
      .join(assigned.as("b"), col("a.c_id") === col("b.c_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("u"), col("a.c_id").as("c_id"),
        col("b.vec_id").as("bv"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cs"))
      .groupBy(col("u"), col("c_id"))
      .agg(GraftFunctions.topkByScore(col("cs"), col("bv"), 3).as("top"))
      .select(col("u"), col("c_id"), explode(col("top")).as("e"))
      .select(col("u"), col("c_id"), col("e.id").as("v"), col("e.score").as("cs"))
    val mut = nb.as("t1")
      .join(nb.select(col("u").as("v2"), col("v").as("u2")).as("t2"),
        col("t1.v") === col("t2.v2") && col("t1.u") === col("t2.u2"))
      .filter(col("t1.u") < col("t1.v"))
      .select(col("t1.u").as("u"), col("t1.v").as("v"),
        col("t1.c_id").as("c_id"), col("t1.cs").as("cs"))
    mut.orderBy(col("cs").desc, col("u"), col("v")).limit(50)
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("cs").desc, col("u"), col("v"))).cast("int"))
      .select(col("u"), col("v"), col("c_id").cast("int").as("c_id"),
        round(col("cs"), 6).as("cos_sim"), col("rn"))
      .orderBy(col("rn"))
  }

  /** ANN index QUALITY EVAL — the measurement loop every production
    * vector store runs before trusting an approximate index: per
    * eval query, recall@10 of the q39 IVF probe (16 trained cells,
    * nprobe=7) against the exact brute-force top-10. q39 gives the
    * approximate ANSWERS; this gives the number an operator
    * thresholds on when sizing nprobe/k — and its per-query rows
    * localize WHICH queries the cell layout fails (recall loss is
    * never uniform: it concentrates on queries near cell boundaries).
    *
    * Exactness: both sides rank by (float cosine DESC, vec_id) — the
    * q39 contract — and the metric counts ID-set intersection, so
    * recall_bp is exact integer (10000·hits div 10) in both engines.
    *
    * Scale shape: the eval query set is BOUNDED (the q39 sample, 10
    * queries) and broadcast; the exact side is therefore one corpus
    * scan through a codegen'd cosine + the bounded top-k aggregate —
    * |queries|·N work, the eval-harness shape, NOT an N² all-pairs
    * (recall eval at 100 TB samples queries, never crosses the
    * corpus with itself). The approximate side reuses q39's pipeline
    * verbatim (memoized centroids, broadcast probe join).
    */
  val q210AnnRecall = QueryDef(
    "q210_ann_recall",
    "ANN quality eval: per-query recall@10 of the IVF probe vs exact brute-force top-10, integer bp",
    s"""${ivfPreambleSql(6)},
       |probes AS (SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v, c.ce) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.ce, c.ce)) DESC,
       |        c.c_id) AS rn
       |    FROM t q CROSS JOIN c6 c
       |    WHERE q.vec_id >= 20 AND q.vec_id < 30) WHERE rn <= 7),
       |rr AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    list_dot_product(qt.v, a.v) / sqrt(list_dot_product(qt.v, qt.v) * list_dot_product(a.v, a.v)) AS cs
       |  FROM probes p
       |  JOIN asgn a ON a.c_id = p.c_id
       |  JOIN t qt ON qt.vec_id = p.q_id
       |  WHERE a.vec_id <> p.q_id),
       |approx AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rn
       |  FROM rr) WHERE rn <= 10),
       |ex AS (SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, a.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_dot_product(q.v, a.v) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(a.v, a.v)) DESC,
       |      a.vec_id) AS rn
       |  FROM t q CROSS JOIN t a
       |  WHERE q.vec_id >= 20 AND q.vec_id < 30 AND a.vec_id <> q.vec_id)
       |  WHERE rn <= 10)
       |SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(ap.n_id) AS BIGINT) AS n_hit,
       |  CAST((10000 * count(ap.n_id)) // count(*) AS BIGINT) AS recall_bp
       |FROM ex LEFT JOIN approx ap ON ap.q_id = ex.q_id AND ap.n_id = ex.n_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val qs = t.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = rerankTopk(t.crossJoin(broadcast(qs)), "qe", "embedding", 10)
      .select(col("q_id"), col("n_id"))
    val approx = q39AnnIvf.fn(s, d).select(col("q_id"), col("n_id"))
    exact.join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        expr("(10000 * n_hit) div n_exact").as("recall_bp"))
      .orderBy(col("q_id"))
  }

  /** HARD-negative mining — the similarity-ranked twin of q134's
    * random negative sampling, and the miner contrastive training
    * actually wants (Karpukhin et al. 2020's DPR recipe: the
    * negatives that move the loss are the most-similar WRONG-label
    * examples, not uniform draws): for every vector, the top-3
    * highest-cosine vectors with a DIFFERENT label from its IVF
    * cell. Cell blocking is what makes "most similar wrong-label"
    * minable at all — a hard negative is by definition near the
    * anchor, so the anchor's own cell contains it.
    *
    * Scale shape: the q191/q203 cell-blocked convention — corpus-
    * derived k ≈ √N cells (`AutoTune`, memoized `corpusCentroids`),
    * pair stage Σ|cell|² ≈ N^1.5 (never N²), per-anchor top-3 via the
    * bounded `topk_by_score` partial aggregate (no per-anchor
    * window), labels ride the assignment — zero extra joins on the
    * pair stage's output.
    *
    * Oracle: the unrolled-Lloyd IVF preamble (q39/q89/q191/q203 share
    * it) + the same in-cell different-label top-3 window.
    */
  val q228HardNegatives = QueryDef(
    "q228_hard_negatives",
    "hard-negative mining: per-anchor top-3 most-similar wrong-label vectors within IVF cells (corpus-derived k)",
    s"""${ivfPreambleSql(6, "(SELECT greatest(16, least(CAST(ceil(sqrt(count(*))) AS BIGINT), count(*) // 32)) FROM t)")},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |negs AS (SELECT u, lu, v, lv, c_id, cs, rn FROM (
       |  SELECT a.vec_id AS u, la.label AS lu, b.vec_id AS v, lb.label AS lv,
       |    a.c_id,
       |    list_dot_product(a.v, b.v) /
       |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cs,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.v, b.v) /
       |        sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) DESC,
       |      b.vec_id) AS rn
       |  FROM asgn a JOIN asgn b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id
       |  JOIN lab la ON la.vec_id = a.vec_id
       |  JOIN lab lb ON lb.vec_id = b.vec_id
       |  WHERE la.label <> lb.label) WHERE rn <= 3)
       |SELECT u AS anchor, CAST(lu AS INT) AS anchor_label,
       |  v AS negative, CAST(lv AS INT) AS negative_label,
       |  CAST(c_id AS INT) AS c_id, round(cs, 6) AS cos_sim,
       |  CAST(rn AS INT) AS rn
       |FROM negs
       |ORDER BY anchor, rn""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val k = graft.api.AutoTune.isolationKFor(s, d)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val assigned = assignCells(t, corpusCentroids(s, d, k = k, iters = 6),
        "embedding", "label")
      .select(col("vec_id"), col("embedding"), col("c_id"), col("label"))
    assigned.as("a")
      .join(assigned.as("b"), col("a.c_id") === col("b.c_id") &&
        col("a.vec_id") =!= col("b.vec_id") &&
        col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("anchor"), col("a.label").as("anchor_label"),
        col("a.c_id").as("c_id"), col("b.vec_id").as("bv"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cs"))
      .groupBy(col("anchor"), col("anchor_label"), col("c_id"))
      .agg(GraftFunctions.topkByScore(col("cs"), col("bv"), 3).as("top"))
      .select(col("anchor"), col("anchor_label"), col("c_id"),
        posexplode(col("top")).as(Seq("i", "e")))
      // negative-side label rides a post-top-k equi join (≤ 3 rows per
      // anchor — the top-k aggregate can't carry a struct id)
      .join(t.select(col("vec_id").as("negative"),
        col("label").as("negative_label")),
        col("e.id") === col("negative"))
      .select(col("anchor"), col("anchor_label").cast("int").as("anchor_label"),
        col("negative"), col("negative_label").cast("int").as("negative_label"),
        col("c_id").cast("int").as("c_id"),
        round(col("e.score"), 6).as("cos_sim"),
        (col("i") + 1).cast("int").as("rn"))
      .orderBy(col("anchor"), col("rn"))
  }

  /** Embedding anisotropy audit — the "is this embedding space
    * usable" health check (Ethayarajh 2019: contextual embeddings
    * collapse into a narrow cone; mean pairwise cosine ≫ 0 means
    * cosine similarity stops discriminating): the mean pairwise
    * cosine over ALL n(n−1) ordered pairs, computed WITHOUT the pair
    * join via the algebraic identity
    * `Σ_{i≠j} ⟨qᵢ,qⱼ⟩ = ‖Σᵢqᵢ‖² − Σᵢ‖qᵢ‖²` — one O(n·d) scan and a
    * d-row aggregate replace the N² pair sum (the whole point at
    * 100 TB: the naive form is the worst all-pairs join in the book,
    * the identity makes it a groupBy on ≤ d keys).
    *
    * Exactness: each vector is unit-normalized then quantized to
    * MILLI units (q = ⌊1000·x/‖x‖ + 0.5⌋, the q76/IVF integer
    * convention — float→double widening, IEEE sqrt/floor, identical
    * in both engines), so ⟨qᵢ,qⱼ⟩ ≈ 10⁶·cos(i,j) and every sum is
    * INTEGER (order-independent). Per-dimension sums fit int64 to
    * n ≈ 9·10¹² rows; their squares accumulate in 128-bit
    * (decimal(38) / HUGEINT) before the final int64 cast. The one
    * float step (the mean) divides two exact integers with IEEE
    * double semantics — engine-identical.
    */
  val q229AnisotropyAudit = QueryDef(
    "q229_anisotropy_audit",
    "embedding anisotropy: mean pairwise cosine via the sum-vector identity (O(n*d), no pair join), integer micro units",
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id,
      |        list_transform(v, x -> CAST(floor(1000.0 * x /
      |          sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) + 0.5) AS BIGINT)) AS qu
      |      FROM t
      |      WHERE list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b) > 0),
      |dims AS (SELECT unnest(range(1, 1 + (SELECT max(len(qu)) FROM u))) AS j),
      |sd AS (SELECT d.j, CAST(sum(qu[d.j]) AS BIGINT) AS s
      |       FROM u CROSS JOIN dims d GROUP BY d.j),
      |agg_a AS (SELECT sum(CAST(s AS HUGEINT) * s) AS ssq FROM sd),
      |agg_b AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |            sum(CAST(list_reduce(list_transform(qu, x -> CAST(x AS HUGEINT) * x),
      |                (a, b) -> a + b) AS HUGEINT)) AS self_sum
      |          FROM u)
      |SELECT b.n,
      |  CAST((SELECT max(len(qu)) FROM u) AS BIGINT) AS dims,
      |  CAST(a.ssq - b.self_sum AS BIGINT) AS sum_pair_dot,
      |  CAST(b.self_sum AS BIGINT) AS sum_self_dot,
      |  CAST(floor(CAST(a.ssq - b.self_sum AS DOUBLE) /
      |    (CAST(b.n AS DOUBLE) * (b.n - 1))) AS BIGINT) AS mean_cos_micro,
      |  CAST(b.self_sum // b.n AS BIGINT) AS mean_self_micro
      |FROM agg_a a, agg_b b""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // native sequential-fold norm + native milli quantizer (round 18)
    // — bit-identical to the interpreted aggregate/transform lambdas
    // they replace (same IEEE ops in the same order; see VecQMilli)
    val withNorm = t.withColumn("nrm2",
      GraftFunctions.vecDot(col("v"), col("v")))
    val u = graft.Reuse.query(
      withNorm.filter(col("nrm2") > 0)
        .select(col("vec_id"),
          GraftFunctions.vecQMilli(col("v"), col("nrm2")).as("qu")))
    val sd = u.select(posexplode(col("qu")).as(Seq("j", "q")))
      .groupBy(col("j")).agg(sum(col("q")).as("s"))
    // squares accumulate in decimal(38) — int64 would overflow at
    // ~4·10^5 rows (s ≤ 1000n, s² ≤ 10^6·n², ×d dims)
    val aggA = sd.agg(
      sum(col("s").cast("decimal(19,0)") * col("s").cast("decimal(19,0)"))
        .as("ssq"))
    val aggB = u
      .select(GraftFunctions.vecDot(col("qu"), col("qu"))
        .as("self"), size(col("qu")).as("nd"))
      .agg(count(lit(1)).as("n"), sum(col("self")).as("self_sum"),
        max(col("nd")).cast("long").as("dims"))
    aggA.crossJoin(broadcast(aggB))
      .select(col("n"), col("dims"),
        (col("ssq") - col("self_sum")).cast("long").as("sum_pair_dot"),
        col("self_sum").as("sum_self_dot"),
        floor((col("ssq") - col("self_sum")).cast("double") /
          (col("n").cast("double") * (col("n") - 1))).cast("long")
          .as("mean_cos_micro"),
        expr("self_sum div n").as("mean_self_micro"))
  }

  /** Bitext mining via margin-based scoring — the parallel-corpus
    * miner (Artetxe & Schwenk 2019's margin criterion, the CCMatrix
    * recipe every multilingual-LLM data pipeline runs over aligned
    * embedding spaces): the corpus splits into two sides (label
    * parity stands in for the language pair), every cross-side
    * candidate pair is scored by its similarity RELATIVE to each
    * endpoint's neighborhood — margin = sim(x,y) / mean of the two
    * endpoints' k-NN mean sims — and a pair is mined only when it is
    * the MUTUAL best match and its margin clears 1.0 (absolute-cosine
    * thresholds fail because "hub" vectors are near everything;
    * the margin normalizes hubness out — the whole point).
    *
    * Scale shape: the q203/q228 cell-blocked convention — candidates
    * and k-NN neighborhoods come from the shared corpus-derived IVF
    * assignment (memoized `corpusCentroids`, Σ|cell|² ≈ N^1.5 pair
    * stage, never N²); per-endpoint k-NN sums ride the bounded
    * `topk_by_score` partial aggregate (no data-sized windows);
    * mutual-best is two `max_by` aggregates of the pair relation.
    * The pair relation is computed once and scope-persisted — three
    * consumers (two endpoint k-NN passes + the scoring join).
    *
    * Exactness: vectors ride the q229 milli quantization so pair
    * sims, k-NN sums, and the margin ratio are ALL integer
    * (margin_bp = 2·nₐ·n_b·sim·10⁴ ÷ (nₐ·S_b + n_b·Sₐ), worst case
    * ≈ 3·10¹¹ ≪ int64); only sim>0 pairs are scored so integer
    * division never sees a negative numerator (Spark `div` truncates
    * where DuckDB `//` floors). Ties break (margin, sim, lower id).
    */
  val q236BitextMining = QueryDef(
    "q236_bitext_mining",
    "bitext mining: margin-scored (CSLS-style) mutual best cross-side matches within IVF cells, integer micro units",
    s"""${ivfPreambleSql(6, "(SELECT greatest(16, least(CAST(ceil(sqrt(count(*))) AS BIGINT), count(*) // 32)) FROM t)")},
       |lab AS (SELECT vec_id, label % 2 AS side FROM embeddings),
       |q AS (SELECT a.vec_id, a.c_id, l.side,
       |        list_transform(a.v, x -> CAST(floor(1000.0 * x /
       |          sqrt(list_reduce(list_transform(a.v, y -> y * y), (p, r) -> p + r)) + 0.5) AS BIGINT)) AS qu
       |      FROM asgn a JOIN lab l USING (vec_id)
       |      WHERE list_reduce(list_transform(a.v, y -> y * y), (p, r) -> p + r) > 0),
       |pr AS (SELECT a.vec_id AS u, b.vec_id AS w,
       |         CAST(list_reduce(list_transform(range(1, len(a.qu) + 1),
       |           i -> a.qu[i] * b.qu[i]), (x, y) -> x + y) AS BIGINT) AS qd
       |       FROM q a JOIN q b ON a.c_id = b.c_id AND a.side = 0 AND b.side = 1),
       |su AS (SELECT u, CAST(sum(qd) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT u, qd, row_number() OVER (PARTITION BY u ORDER BY qd DESC, w) AS rn FROM pr)
       |       WHERE rn <= 4 GROUP BY u),
       |sw AS (SELECT w, CAST(sum(qd) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT w, qd, row_number() OVER (PARTITION BY w ORDER BY qd DESC, u) AS rn FROM pr)
       |       WHERE rn <= 4 GROUP BY w),
       |sc AS (SELECT pr.u, pr.w, pr.qd,
       |         (10000 * 2 * su.n * sw.n * pr.qd) // (su.n * sw.s + sw.n * su.s) AS margin_bp
       |       FROM pr JOIN su ON su.u = pr.u JOIN sw ON sw.w = pr.w
       |       WHERE pr.qd > 0 AND (su.n * sw.s + sw.n * su.s) > 0),
       |bu AS (SELECT u, w, qd, margin_bp FROM (
       |         SELECT u, w, qd, margin_bp,
       |           row_number() OVER (PARTITION BY u ORDER BY margin_bp DESC, qd DESC, w) AS rn
       |         FROM sc) WHERE rn = 1),
       |bw AS (SELECT u, w FROM (
       |         SELECT u, w,
       |           row_number() OVER (PARTITION BY w ORDER BY margin_bp DESC, qd DESC, u) AS rn
       |         FROM sc) WHERE rn = 1)
       |SELECT bu.u AS src_id, bu.w AS tgt_id, bu.qd AS sim_micro, bu.margin_bp
       |FROM bu JOIN bw ON bw.u = bu.u AND bw.w = bu.w
       |WHERE bu.margin_bp > 10000
       |ORDER BY src_id""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val k = graft.api.AutoTune.isolationKFor(s, d)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), (col("label") % 2).as("side"))
    val cents = corpusCentroids(s, d, k = k, iters = 6)
    // the assignment+quantization pipeline feeds both join sides —
    // persist for the query's scope so the broadcast argmax runs once
    val assigned = graft.Reuse.query(assignCells(t, cents, "embedding", "side")
      .select(col("vec_id"), col("c_id"),
        col("embedding").cast("array<double>").as("v"), col("side"))
      .withColumn("nrm2", GraftFunctions.vecDot(col("v"), col("v")))
      .filter(col("nrm2") > 0)
      .select(col("vec_id"), col("c_id"), col("side"),
        GraftFunctions.vecQMilli(col("v"), col("nrm2")).as("qu")))
    val a = assigned.filter(col("side") === 0)
      .select(col("vec_id").as("u"), col("c_id"), col("qu").as("qa"))
    val b = assigned.filter(col("side") === 1)
      .select(col("vec_id").as("w"), col("c_id").as("c2"), col("qu").as("qb"))
    // the pair relation feeds three consumers (two endpoint k-NN
    // aggregates + the scoring join) — persist for the query's scope
    val pr = graft.Reuse.query(
      a.join(b, col("c_id") === col("c2"))
        .select(col("u"), col("w"),
          // native exact-long dot (round 17): the interpreted HOF fold
          // ran per candidate pair × d elements
          GraftFunctions.vecDot(col("qa"), col("qb")).as("qd")))
    def knn4(key: String, other: String): DataFrame =
      pr.groupBy(col(key))
        .agg(GraftFunctions.topkByScore(col("qd").cast("double"), col(other), 4).as("top"))
        .select(col(key).as(s"${key}k"),
          aggregate(col("top"), lit(0L), (acc, e) => acc + e.getField("score").cast("long"))
            .as(s"${key}_s"),
          size(col("top")).cast("long").as(s"${key}_n"))
    // sc feeds BOTH mutual-best aggregates — persist so the two
    // endpoint k-NN aggregates run once, not once per direction
    val sc = graft.Reuse.query(pr
      .join(knn4("u", "w"), col("u") === col("uk"))
      .join(knn4("w", "u"), col("w") === col("wk"))
      .filter(col("qd") > 0 &&
        col("u_n") * col("w_s") + col("w_n") * col("u_s") > 0)
      .select(col("u"), col("w"), col("qd"),
        expr("(10000 * 2 * u_n * w_n * qd) div (u_n * w_s + w_n * u_s)")
          .as("margin_bp")))
    val bu = sc.groupBy(col("u"))
      .agg(max_by(struct(col("w"), col("qd"), col("margin_bp")),
        struct(col("margin_bp"), col("qd"), (-col("w")).as("nw"))).as("best"))
      .select(col("u"), col("best.w").as("w"), col("best.qd").as("qd"),
        col("best.margin_bp").as("margin_bp"))
    val bw = sc.groupBy(col("w"))
      .agg(max_by(struct(col("u")),
        struct(col("margin_bp"), col("qd"), (-col("u")).as("nu"))).as("best"))
      .select(col("w").as("bw_w"), col("best.u").as("bw_u"))
    bu.join(bw, col("u") === col("bw_u") && col("w") === col("bw_w"))
      .filter(col("margin_bp") > 10000)
      .select(col("u").as("src_id"), col("w").as("tgt_id"),
        col("qd").as("sim_micro"), col("margin_bp"))
      .orderBy(col("src_id"))
  }

  /** Johnson–Lindenstrauss random-projection distortion audit — the
    * pre-flight check before swapping a d-dim embedding column for a
    * d′≪d sketch in the similarity pipeline (at 100 TB the projected
    * column is what you actually shuffle/index; JL says pairwise
    * distances survive, this measures BY HOW MUCH on this corpus):
    * every vector is projected to d′=16 dims with a deterministic
    * Rademacher (±1) matrix — signs from the mix64 parity bit keyed
    * on (input dim, output dim), no materialized matrix, E‖Px−Py‖² =
    * d′·‖x−y‖² — and the audit reports the distribution of
    * `10000·‖Pu−Pv‖² / (d′·‖u−v‖²)` over the deterministic
    * (2m, 2m+1) vec_id pairing (JL's guarantee is for ANY fixed pair
    * set, so the audit pair set needs no sampling machinery).
    *
    * Exactness: vectors ride the q229 milli quantization, so
    * projections, squared distances, and the ratio are ALL integer
    * (sign·qu sums are exact in both engines; worst-case ‖Pu−Pv‖²
    * ≈ 16·(2·64·10³)² ≈ 2.6·10¹¹ ≪ int64).
    *
    * Scale shape: projection is map-side O(d·d′) per row; the pair
    * stage is ONE equi join on vec_id+1; output is a ≤ ~20-bucket
    * histogram. No windows, no all-pairs anything.
    */
  val q238JlDistortion = QueryDef(
    "q238_jl_distortion",
    "JL random-projection audit: Rademacher project to 16 dims, integer distortion histogram over fixed vec_id pairs",
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |u AS (SELECT vec_id,
      |        list_transform(v, x -> CAST(floor(1000.0 * x /
      |          sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) + 0.5) AS BIGINT)) AS qu
      |      FROM t
      |      WHERE list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b) > 0),
      |ks AS (SELECT unnest(range(0, 16)) AS k),
      |js AS (SELECT vec_id, qu[j + 1] AS q, j
      |       FROM (SELECT vec_id, qu, unnest(range(0, len(qu))) AS j FROM u)),
      |sg0 AS (SELECT vec_id, k.k, q,
      |          CAST(j * 131071 + k.k * 524287 + 12345 AS HUGEINT) AS z
      |        FROM js CROSS JOIN ks k),
      |sg1 AS (SELECT vec_id, k, q, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM sg0),
      |sg2 AS (SELECT vec_id, k, q, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM sg1),
      |proj AS (SELECT vec_id, k,
      |           CAST(sum(CASE WHEN (xor(z, z >> 31) // 4096) % 2 = 0 THEN q ELSE -q END) AS BIGINT) AS p
      |         FROM sg2 GROUP BY vec_id, k),
      |pv AS (SELECT vec_id, list(p ORDER BY k) AS pl FROM proj GROUP BY vec_id),
      |pd AS (SELECT a.vec_id AS ui, b.vec_id AS vi, a.qu AS qa, b.qu AS qb,
      |              pa.pl AS pla, pb.pl AS plb
      |       FROM u a JOIN u b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
      |       JOIN pv pa ON pa.vec_id = a.vec_id
      |       JOIN pv pb ON pb.vec_id = b.vec_id),
      |dd AS (SELECT ui, vi,
      |        CAST(list_reduce(list_transform(range(1, len(qa) + 1),
      |          i -> (qa[i] - qb[i]) * (qa[i] - qb[i])), (x, y) -> x + y) AS BIGINT) AS od2,
      |        CAST(list_reduce(list_transform(range(1, 17),
      |          i -> (pla[i] - plb[i]) * (pla[i] - plb[i])), (x, y) -> x + y) AS BIGINT) AS pd2
      |       FROM pd),
      |db AS (SELECT (10000 * pd2) // (16 * od2) AS bp FROM dd WHERE od2 > 0)
      |SELECT bp // 1000 AS bucket, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(min(bp) AS BIGINT) AS min_bp, CAST(max(bp) AS BIGINT) AS max_bp,
      |  CAST(sum(bp) // count(*) AS BIGINT) AS mean_bp
      |FROM db GROUP BY 1
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm2", GraftFunctions.vecDot(col("v"), col("v")))
      .filter(col("nrm2") > 0)
      .select(col("vec_id"),
        GraftFunctions.vecQMilli(col("v"), col("nrm2")).as("qu"))
    // map-side Rademacher projection: sign = mix64 parity bit on the
    // (input dim, output dim) key — the q232 u52 replay convention.
    // The sign matrix is ROW-INDEPENDENT (a pure function of (j, k)),
    // so it is materialized ONCE driver-side as a d′×d literal — the
    // same mix64 the oracle replays, hoisted out of the per-row loop
    // (the HOF form re-evaluated d·d′ hash chains on EVERY row).
    // Width follows the corpus's max dimensionality: bounded metadata
    // (one scalar aggregate), the centroid-collect convention.
    val dMax = Tables.embeddings(s, d)
      .agg(coalesce(max(size(col("embedding"))), lit(0)))
      .head().getInt(0)
    val signs: Seq[Seq[Long]] = (0L until 16L).map(k =>
      (0L until dMax.toLong).map { j =>
        if (((graft.plans.Mix64.mix(j * 131071L + k * 524287L + 12345L) >>> 12) & 1L) == 0L) 1L
        else -1L
      })
    // Persisted for the query's scope: both pair sides read it.
    // Round 17: each of the 16 projections is a native exact-long
    // vec_dot against its FULL dMax-length sign row (vec_dot iterates
    // the left/row vector's length, so the pad is never read — same
    // values as the old slice+zip_with HOF, which evaluated
    // interpreted: 16 × d lambda steps per row).
    val proj = graft.Reuse.query(t.withColumn("pl",
      array((0 until 16).map(k =>
        GraftFunctions.vecDot(col("qu"), typedLit(signs(k)))): _*)))
    val a = proj.select(col("vec_id").as("ui"), col("qu").as("qa"), col("pl").as("pla"))
      .filter(col("ui") % 2 === 0)
    val b = proj.select(col("vec_id").as("vi"), col("qu").as("qb"), col("pl").as("plb"))
    val dd = a.join(b, col("vi") === col("ui") + 1)
      .select(col("ui"), col("vi"),
        GraftFunctions.vecDistSq(col("qa"), col("qb")).as("od2"),
        GraftFunctions.vecDistSq(col("pla"), col("plb")).as("pd2"))
    dd.filter(col("od2") > 0)
      .select(expr("(10000 * pd2) div (16 * od2)").as("bp"))
      .groupBy(expr("bp div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("bp")).as("min_bp"),
        max(col("bp")).as("max_bp"),
        expr("sum(bp) div count(1)").as("mean_bp"))
      .orderBy(col("bucket"))
  }

  val all: Seq[QueryDef] =
    Seq(q38CosineTopk, q39AnnIvf, q60HyperplaneLsh, q76QuantizedTopk,
      q89SemanticDedup, q110CentroidDrift, q134NegativeSampling,
      q188PowerIteration, q191IsolationAudit, q200MmrDiversified,
      q202PqAdcTopk, q203MutualKnn, q210AnnRecall,
      q228HardNegatives, q229AnisotropyAudit, q236BitextMining,
      q238JlDistortion)
}
