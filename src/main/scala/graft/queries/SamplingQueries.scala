package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Sampling operators for training-data pipelines: deterministic
  * hash-based sampling (reproducible across engines AND runs — the
  * property data mixing needs), stratified per-group rates, and the
  * weighted source-mixture idiom. Engine-RNG sampling
  * (`df.sample`/`sampleBy`) is exercised in SamplingSpec; these
  * queries use hash-threshold sampling precisely so a DuckDB oracle
  * can replay the identical selection.
  */
object SamplingQueries {

  /** Deterministic 10% sample: keep rows whose 64-bit key hash lands
    * under the threshold. Same rows selected at any parallelism, any
    * engine — `hash(vec)` here is the row's own unique key, so the
    * oracle replays it exactly (xxhash64 isn't in DuckDB; modulo on
    * the key gives the same engine-independent selection property).
    */
  val q56DeterministicSample = QueryDef(
    "q56_deterministic_sample",
    "reproducible 10% sample of orders by key modulus (engine-independent)",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 10 = 3
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(10)) === 3)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Stratified sampling with per-language rates (data mixing): the
    * per-stratum rate is applied by key modulus so the mixture is
    * reproducible; the aggregate proves the realized rates.
    */
  val q57StratifiedMix = QueryDef(
    "q57_stratified_mix",
    "per-language sampling rates (50% en, 20% others) + realized-rate audit",
    """SELECT lang, count(*) AS n_sampled
      |FROM documents
      |WHERE (lang = 'en' AND doc_id % 10 < 5)
      |   OR (lang <> 'en' AND doc_id % 10 < 2)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(
        (col("lang") === "en" && pmod(col("doc_id"), lit(10)) < 5) ||
          (col("lang") =!= "en" && pmod(col("doc_id"), lit(10)) < 2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** Shard-layout audit for the training-shard writer
    * (`graft.api.Sharder`): per-shard row count and payload mass for a
    * modulus layout (the oracle-expressible assignment; the writer's
    * default xxhash64 layout is pinned by `SharderSpec`, where DuckDB
    * can't follow the hash). The balance columns are what an output
    * audit dashboard reads before handing shards to trainers.
    */
  val q77ShardStats = QueryDef(
    "q77_shard_stats",
    "per-shard row count + payload mass audit for the shard writer (modulus layout)",
    """SELECT CAST(doc_id % 16 AS BIGINT) AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(min(doc_id) AS BIGINT) AS min_doc,
      |  CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM documents
      |GROUP BY shard_id
      |ORDER BY shard_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard_id", pmod(col("doc_id"), lit(16L)))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard_id"))
  }

  /** Token-budget data mixing: within each source, take documents in
    * descending quality order (type-token ratio in integer basis
    * points, the q29 arithmetic) until a fixed per-source token budget
    * is exhausted — the selection step of building a training mix with
    * per-domain token caps. The cumulative token total is a window
    * PARTITIONED by source, so each source's cumsum runs on its own
    * task — at 100 TB parallelism is the number of sources; a single
    * pathologically hot source would need the `api.SequencePacker`
    * two-pass idiom inside that source (documented, not needed for a
    * per-domain cap whose whole point is bounding each domain).
    * Integer-only arithmetic (token counts, basis points) so DuckDB
    * replays the selection exactly.
    */
  val q81TokenBudgetMix = QueryDef(
    "q81_token_budget_mix",
    "per-source token-budget mix: quality-ranked docs kept until a 500-token source cap",
    """WITH tok AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source, len(w) AS n_tokens,
      |         CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS ttr_bp
      |  FROM tok WHERE len(w) > 0),
      |c AS (
      |  SELECT doc_id, source, n_tokens, ttr_bp,
      |         sum(n_tokens) OVER (PARTITION BY source
      |                             ORDER BY ttr_bp DESC, doc_id) AS cum
      |  FROM q)
      |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       ttr_bp, CAST(cum AS BIGINT) AS cum_tokens
      |FROM c WHERE cum <= 500
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("w")).cast("long").as("n_tokens"),
        floor(lit(10000.0) * size(array_distinct(col("w"))) / size(col("w")))
          .cast("long").as("ttr_bp"))
    // running token total per source via the range-partitioned CDF
    // primitive — `PARTITION BY source` straight over the doc relation
    // would funnel each source's whole corpus slice through one task
    // (~20 sources; the q145/q109 scale contract). The (ttr desc,
    // doc_id) order is total, so the running sum is deterministic and
    // equals the SQL twin's RANGE-frame window.
    graft.api.Ranking.withRunningTotal(
        scored, Seq("source"), Seq(col("ttr_bp").desc, col("doc_id")),
        "n_tokens", "cum_tokens", "src_tokens")
      .filter(col("cum_tokens") <= 500)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("ttr_bp"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Length-bucketed batching — the inference-side counterpart of
    * q80's training packing: docs are grouped into token-length
    * buckets (width 16) and cut into fixed-size batches of 8 within
    * each bucket, then audited for padding waste (docs in a batch pad
    * to the batch max; bucketing exists precisely to bound that
    * waste). The window partitions by bucket, so batch assignment
    * parallelizes across buckets; all arithmetic is integer, so the
    * DuckDB twin replays batch boundaries exactly.
    */
  val q84LengthBatches = QueryDef(
    "q84_length_batches",
    "length-bucketed inference batching: width-16 buckets, batches of 8, padding-waste audit",
    """WITH tok AS (
      |  SELECT doc_id,
      |         len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n
      |  FROM documents),
      |b AS (SELECT doc_id, n, n // 16 AS bucket FROM tok WHERE n > 0),
      |r AS (
      |  SELECT doc_id, n, bucket,
      |         (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8 AS batch_id
      |  FROM b)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(batch_id AS BIGINT) AS batch_id,
      |  count(*) AS n_docs,
      |  CAST(max(n) AS BIGINT) AS max_tokens,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_waste
      |FROM r
      |GROUP BY bucket, batch_id
      |ORDER BY bucket, batch_id""".stripMargin) { (s, d) =>
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val b = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", expr("n div 16"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    b.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr("(rn - 1) div 8"))
      .drop("rn")
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n")).as("max_tokens"),
        sum(col("n")).as("total_tokens"),
        (count(lit(1)) * max(col("n")) - sum(col("n"))).as("pad_waste"))
      .orderBy(col("bucket"), col("batch_id"))
  }

  /** Temperature-based source mixing (the multilingual-LM sampling
    * rule): per-source quotas proportional to n_s^alpha with
    * alpha = 0.5, so low-resource sources are UP-weighted relative to
    * their share — the standard alternative to q81's hard per-domain
    * cap. Quota arithmetic is engineered order-free: the IEEE-exact
    * `sqrt` is floored into integer basis points BEFORE the weight
    * sum, so no floating accumulation order can diverge between
    * engines; quota = (target × w) DIV Σw is then pure integer math.
    *
    * Scale shape: the weight/quota table is one partial aggregate over
    * sources (broadcast back, bounded metadata like a range
    * partitioner's bins); the only real shuffle is the per-source
    * row_number — parallel across sources, same caveat as q81 (a
    * pathologically hot source would use the `api.SequencePacker`
    * two-pass idiom within the source).
    */
  val q88TemperatureMix = QueryDef(
    "q88_temperature_mix",
    "temperature sampling (alpha=0.5): per-source quotas prop. to sqrt(n), 200-doc target",
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, n,
      |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS weight
      |      FROM c),
      |q AS (SELECT source, weight,
      |        CAST((200 * weight) // (SELECT sum(weight) FROM w) AS BIGINT) AS quota
      |      FROM w),
      |r AS (SELECT doc_id, source,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS rank
      |      FROM documents)
      |SELECT r.doc_id, r.source, r.rank, q.quota, q.weight
      |FROM r JOIN q USING (source)
      |WHERE r.rank <= q.quota
      |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val weights = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"),
        floor(sqrt(col("n").cast("double")) * 10000).cast("long").as("weight"))
    val quotas = weights
      .crossJoin(broadcast(weights.agg(sum(col("weight")).as("wsum"))))
      .select(col("source"), col("weight"),
        expr("(200 * weight) DIV wsum").as("quota"))
    // per-source rank via the scale-safe grouped ranking API — the
    // low-cardinality `PARTITION BY source` row_number would serialize
    // each source's slice (same contract as q99)
    graft.api.Ranking.withRank(docs, Seq("source"), Seq(col("doc_id")),
        "rank", "src_n")
      .join(broadcast(quotas), "source")
      .filter(col("rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rank"),
        col("quota"), col("weight"))
      .orderBy(col("doc_id"))
  }

  /** SYSTEMATIC weighted sampling: take the document covering every
    * 2000th token of the corpus in doc_id order — selection
    * probability ∝ document length (longer docs more likely), sample
    * spread evenly across the corpus (no clustering, unlike Bernoulli
    * draws), fully deterministic, and integer-exact (a doc spanning
    * global token interval [cum−n, cum) is selected iff the interval
    * crosses a 2000-token boundary: `cum div W > (cum − n) div W`).
    * The global cumulative sum comes from
    * [[graft.api.SequencePacker.pack]]'s two-pass range-partitioned
    * cumsum — no single-reducer window at any scale; the oracle
    * replays it with a plain window cumsum at DuckDB scale.
    */
  val q106SystematicSample = QueryDef(
    "q106_systematic_sample",
    "systematic length-weighted sampling: the doc covering every 2000th corpus token",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |    sum(n) OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, n AS n_tokens, CAST(cum AS BIGINT) AS cum,
      |  CAST(cum // 2000 AS BIGINT) AS stratum
      |FROM c
      |WHERE cum // 2000 > (cum - n) // 2000
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val rows = Tables.documents(s, d)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => length(x) > 0))
          .cast("long").as("n"))
    graft.api.SequencePacker.pack(rows, "doc_id", "n", budget = 2000L)
      .filter(expr("(cum div 2000) > ((cum - n) div 2000)"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("cum"),
        expr("cum div 2000").as("stratum"))
      .orderBy(col("doc_id"))
  }

  /** Replication-based source rebalancing (UPSAMPLING) — the other
    * half of the q88 story: temperature mixing DOWN-samples the head,
    * this materializes repeat copies of under-represented sources so
    * every source approaches the largest one's token volume (the
    * low-resource-language recipe; the epoch-repeat factor every
    * multilingual training mix publishes). Repeat factors are exact
    * integer ceil division `(max + n − 1) div n`, capped at 4× — the
    * standard bound that keeps upsampling from memorizing a tiny
    * source.
    *
    * Scale shape: per-source token totals are one aggregate; the
    * factor table is sources-sized and broadcast back; replication is
    * a map-side `explode(sequence(1, rep))` — the corpus is scanned
    * once and never shuffled.
    */
  val q133SourceUpsampling = QueryDef(
    "q133_source_upsampling",
    "replication upsampling: integer-ceil repeat factors to the largest source (cap 4x), map-side explode",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
      |  FROM documents),
      |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_toks FROM t GROUP BY source),
      |m AS (SELECT max(n_toks) AS mx FROM s),
      |k AS (SELECT source, n_toks,
      |        least(4, (mx + n_toks - 1) // n_toks) AS rep FROM s, m)
      |SELECT t.doc_id, t.source, CAST(u.i AS BIGINT) AS copy_idx,
      |  CAST(k.rep AS BIGINT) AS rep
      |FROM t JOIN k USING (source), unnest(generate_series(1, k.rep)) AS u(i)
      |ORDER BY doc_id, copy_idx""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long")
          .as("n"))
    val perSource = t.groupBy(col("source")).agg(sum(col("n")).as("n_toks"))
    val mx = perSource.agg(max(col("n_toks")).as("mx"))
    val k = perSource.crossJoin(broadcast(mx))
      .select(col("source"),
        least(lit(4L), expr("(mx + n_toks - 1) div n_toks")).as("rep"))
    t.join(broadcast(k), "source")
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("rep"))).as("copy_idx"), col("rep"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** DSIR-style importance weights for data selection — the hashed
    * n-gram importance-resampling recipe of "Data Selection for
    * Language Models via Importance Resampling" (Xie et al., 2023):
    * score every document by `Σ_tokens [log p_target(bucket) −
    * log p_raw(bucket)]` under two bag-of-hashed-unigrams models, one
    * fit on the target slice (here `lang = 'en'` stands in for the
    * curated target corpus), one on the whole raw corpus. Positive
    * weight ⇒ the doc looks more target-like than raw-average — the
    * resampling key a mixing pipeline feeds into q88/q133.
    *
    * Scale shape: features are hashed into a FIXED 512-bucket space
    * (`portable_hash64 mod p mod 512` — the q107 engine-portable
    * chain, so DuckDB replays bucket assignment bit-for-bit), making
    * the two models a CONSTANT 512-row relation regardless of corpus
    * or vocabulary size: two partial-aggregable bucket counts, one
    * broadcast of the finished model, one per-doc aggregate. Log-probs
    * are fixed-point micros (`floor(1e6·ln((c+1)/(N+512)))`, +1
    * smoothing over the full bucket spine — the q121 idiom), so the
    * per-doc score is an exact integer sum, invariant under
    * partitioning and aggregation order.
    *
    * Cross-engine caveat (documented tolerance): the 512 per-bucket
    * log-probs are floored from a RUNTIME `ln` — JVM `Math.log` and
    * DuckDB's libm `log` are each only ~1-ulp accurate, so a product
    * landing within an ulp of an integer micro boundary could floor
    * one micro apart across engines/platforms. Everything downstream
    * of the 512 floored values IS exact integer arithmetic; the
    * residual risk the exact-hash oracle carries is ≤1 micro per
    * distinct bucket a doc touches, and has not been observed on the
    * driver's JVM/DuckDB pairing. The fully-portable alternative
    * (precomputed literal tables, the q141/q152 convention) is
    * unavailable here because the log arguments are data-dependent
    * counts.
    */
  val q151DsirWeights = QueryDef(
    "q151_dsir_weights",
    "DSIR importance weights: hashed-unigram target-vs-raw log-ratio in integer micros, constant-size broadcast model",
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |         unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS t
      |  FROM documents),
      |ph AS (
      |  SELECT doc_id, lang, CAST(list_reduce(list_transform(string_split(t, ''),
      |           c -> CAST(ascii(c) AS BIGINT)), (a, x) -> (a*31 + x) % 1000000007) AS HUGEINT) AS z
      |  FROM tok),
      |m1 AS (SELECT doc_id, lang, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM ph),
      |m2 AS (SELECT doc_id, lang, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
      |hu AS (SELECT doc_id, lang,
      |         CAST(xor(z, z >> 31) % 1000000007 AS BIGINT) % 512 AS b
      |       FROM m2),
      |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM hu WHERE lang = 'en' GROUP BY b),
      |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS c_s FROM hu GROUP BY b),
      |nn AS (SELECT CAST((SELECT count(*) FROM hu WHERE lang = 'en') AS BIGINT) AS n_t,
      |              CAST((SELECT count(*) FROM hu) AS BIGINT) AS n_s),
      |spine AS (SELECT CAST(unnest(range(0, 512)) AS BIGINT) AS b),
      |model AS (
      |  SELECT s.b,
      |    CAST(floor(1000000.0 * ln(CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / (nn.n_t + 512))) AS BIGINT) AS lt,
      |    CAST(floor(1000000.0 * ln(CAST(coalesce(cs.c_s, 0) + 1 AS DOUBLE) / (nn.n_s + 512))) AS BIGINT) AS ls
      |  FROM spine s LEFT JOIN ct ON ct.b = s.b LEFT JOIN cs ON cs.b = s.b, nn)
      |SELECT hu.doc_id, hu.lang,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(m.lt - m.ls) AS BIGINT) AS dsir_micro,
      |  (sum(m.lt - m.ls) >= 0) AS targetlike
      |FROM hu JOIN model m ON m.b = hu.b
      |GROUP BY hu.doc_id, hu.lang
      |ORDER BY hu.doc_id""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    import graft.plans.GraftFunctions
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    // portable_hash64 lifted to the unsigned domain mod p — the exact
    // q107 replay chain — then folded into 512 buckets
    def bucket(t: org.apache.spark.sql.Column) = {
      val h = GraftFunctions.portableHash64(t)
      pmod(when(h < 0, h.cast("decimal(38,0)") + two64)
        .otherwise(h.cast("decimal(38,0)")),
        lit(1000000007L).cast("decimal(38,0)"))
        .cast("long") % 512
    }
    // bucketed token stream feeds both model builds and the scoring
    // pass — one tokenize+hash for the whole query
    val tok = graft.Reuse.query(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(filter(split(col("text"), " "), t => length(t) > 0)).as("t"))
        .select(col("doc_id"), col("lang"), bucket(col("t")).as("b")))
    val ct = tok.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    val cs = tok.groupBy(col("b")).agg(count(lit(1)).as("c_s"))
    val nn = tok.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
      count(lit(1)).as("n_s"))
    val spine = s.range(0, 512).select(col("id").as("b"))
    val model = spine
      .join(ct, Seq("b"), "left_outer").join(cs, Seq("b"), "left_outer")
      .crossJoin(broadcast(nn))
      .select(col("b"),
        floor(lit(1000000.0) *
          log((coalesce(col("c_t"), lit(0L)) + 1).cast("double") / (col("n_t") + 512)))
          .cast("long").as("lt"),
        floor(lit(1000000.0) *
          log((coalesce(col("c_s"), lit(0L)) + 1).cast("double") / (col("n_s") + 512)))
          .cast("long").as("ls"))
    tok.join(broadcast(model), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lt") - col("ls")).as("dsir_micro"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_micro"),
        (col("dsir_micro") >= 0).as("targetlike"))
      .orderBy(col("doc_id"))
  }

  /** TIME-SERIES cross-validation folds — the split discipline q93's
    * cluster-safe splitter doesn't cover: temporal data must train on
    * the PAST and test on the FUTURE (random splits leak tomorrow
    * into today's model), so folds expand — fold k trains on days
    * [0, 5k) and tests on [5k, 5k+5). The report carries per-fold row
    * and user counts plus `leak_users` — users active in BOTH halves.
    * That recurrence is inherent to expanding windows (not a bug, the
    * design), but any per-user feature computed naively over the
    * union leaks; the count is what the feature pipeline must know.
    *
    * Exactness: day index = datediff from the fixed epoch (session TZ
    * pinned UTC both engines, the q70 convention); all counts exact
    * longs; |train ∩ test| comes from a per-(fold, user) flag
    * aggregate — never a distinct-count subtraction.
    *
    * Scale shape: events replicate ×5 against the broadcast fold
    * spine (folds are metadata); per-fold user flags are ONE
    * (fold, user)-keyed partial-aggregable shuffle (high-cardinality
    * key — no 5-group reducer skew for the distinct side), then a
    * 5-row rollup. Nothing collects.
    */
  val q219TimeSeriesCv = QueryDef(
    "q219_time_series_cv",
    "expanding-window time-series CV folds over events: per-fold train/test rows, users, and train-test user recurrence",
    """WITH e AS (SELECT user_id,
      |            datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      |          FROM events),
      |f AS (SELECT unnest(range(1, 6)) AS k),
      |j AS (SELECT f.k, e.user_id,
      |        e.d < 5 * f.k AS tr,
      |        e.d >= 5 * f.k AND e.d < 5 * f.k + 5 AS te
      |      FROM e CROSS JOIN f),
      |rows_ AS (SELECT k,
      |        CAST(count(*) FILTER (tr) AS BIGINT) AS train_rows,
      |        CAST(count(*) FILTER (te) AS BIGINT) AS test_rows
      |      FROM j GROUP BY k),
      |uf AS (SELECT k, user_id, max(tr) AS tr, max(te) AS te
      |       FROM j GROUP BY k, user_id),
      |us AS (SELECT k,
      |        CAST(count(*) FILTER (tr) AS BIGINT) AS train_users,
      |        CAST(count(*) FILTER (te) AS BIGINT) AS test_users,
      |        CAST(count(*) FILTER (tr AND te) AS BIGINT) AS leak_users
      |      FROM uf GROUP BY k)
      |SELECT CAST(rows_.k AS BIGINT) AS fold, train_rows, test_rows,
      |  train_users, test_users, leak_users
      |FROM rows_ JOIN us ON us.k = rows_.k
      |ORDER BY fold""".stripMargin) { (s, d) =>
    val e = Tables.load(s, d, "events")
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("d"))
    val folds = s.range(1, 6).select(col("id").as("k"))
    val j = e.crossJoin(broadcast(folds))
      .select(col("k"), col("user_id"),
        (col("d") < col("k") * 5).as("tr"),
        (col("d") >= col("k") * 5 && col("d") < col("k") * 5 + 5).as("te"))
    val rows = j.groupBy(col("k")).agg(
      sum(when(col("tr"), 1L).otherwise(0L)).as("train_rows"),
      sum(when(col("te"), 1L).otherwise(0L)).as("test_rows"))
    val us = j.groupBy(col("k"), col("user_id"))
      .agg(max(col("tr")).as("tr"), max(col("te")).as("te"))
      .groupBy(col("k")).agg(
        sum(when(col("tr"), 1L).otherwise(0L)).as("train_users"),
        sum(when(col("te"), 1L).otherwise(0L)).as("test_users"),
        sum(when(col("tr") && col("te"), 1L).otherwise(0L)).as("leak_users"))
    rows.join(us, "k")
      .select(col("k").cast("long").as("fold"), col("train_rows"),
        col("test_rows"), col("train_users"), col("test_users"),
        col("leak_users"))
      .orderBy(col("fold"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006)
    * — sample 50 documents with inclusion probability ∝ token count,
    * the length-weighted draw a token-budget pipeline wants (q81
    * slices a budget deterministically; THIS is the randomized-but-
    * replayable version). E-S ranks rows by Uᵢ^(1/wᵢ) and keeps the
    * top-K — correct without replacement, one pass. The float pow is
    * the portability trap (Java vs C `pow` differ in ulps, enough to
    * flip a rank), so this uses the EXACT-INTEGER identity instead:
    * max of wᵢ iid uniforms has the same distribution as Uᵢ^(1/wᵢ),
    * and integer-weight rows can take a literal max of wᵢ
    * deterministic `mix64` draws — 52-bit unsigned keys (the q134 u52
    * idiom), no float anywhere, the DuckDB HUGEINT replay is
    * bit-exact.
    *
    * Scale shape: the draw is MAP-SIDE (a HOF over sequence(1, w) —
    * O(Σ weight) = O(corpus tokens) hash evals, fully parallel, zero
    * shuffle) into one bounded TakeOrdered(50); the final ranks ride a
    * 50-row window. The fold is CHUNKED at stride 4096: a pathological
    * multi-million-token row still costs its token count in TIME but
    * only O(stride) in live memory (one inner chunk array at a time),
    * instead of materializing a w-sized long array in one row.
    */
  val q232WeightedSample = QueryDef(
    "q232_weighted_sample",
    "weighted sample without replacement: Efraimidis-Spirakis via exact-integer max-of-w mix64 draws, top-50 docs",
    """WITH w AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS BIGINT) AS weight
      |  FROM documents),
      |j AS (SELECT doc_id, weight, unnest(range(1, weight + 1)) AS j
      |      FROM w WHERE weight > 0),
      |z0 AS (SELECT doc_id, weight, CAST(doc_id * 1000003 + j AS HUGEINT) AS z FROM j),
      |m1 AS (SELECT doc_id, weight,
      |         (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM z0),
      |m2 AS (SELECT doc_id, weight,
      |         (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
      |u AS (SELECT doc_id, weight, xor(z, z >> 31) // 4096 AS u52 FROM m2),
      |k AS (SELECT doc_id, any_value(weight) AS weight,
      |        CAST(max(u52) AS BIGINT) AS skey
      |      FROM u GROUP BY doc_id)
      |SELECT * FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT) AS rank,
      |    doc_id, weight, skey
      |  FROM k)
      |WHERE rank <= 50
      |ORDER BY rank""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast("long").as("weight"))
      .filter(col("weight") > 0)
      // chunked max fold: stride-4096 inner arrays (one live at a time
      // under transform's per-element eval) + a ⌈w/4096⌉-long outer
      // array, so a multi-million-token doc costs O(stride) live memory
      // instead of one w-sized array — bit-identical max over the same
      // j = 1..w domain (stride is 2^12, so the chunk-count shiftright
      // is exact integer math)
      .withColumn("skey",
        array_max(transform(
          sequence(lit(0L), shiftright(col("weight") + 4095L, 12) - 1L),
          c => array_max(transform(
            sequence(c * 4096L + 1L, least(col("weight"), (c + 1L) * 4096L)),
            j => shiftrightunsigned(
              graft.plans.GraftFunctions.mix64(col("doc_id") * 1000003L + j),
              12))))))
      .orderBy(col("skey").desc, col("doc_id")).limit(50)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("skey").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("weight"), col("skey"))
      .orderBy(col("rank"))
  }

  /** Context-length frontier — the sweep a training team runs before
    * committing `max_seq_len`: for each candidate length L, what the
    * two standard packing regimes cost on THIS corpus. Under
    * chunk-with-padding (T5-style: each doc split into ⌈len/L⌉
    * chunks, last chunk padded) the cost is pad waste; under
    * truncate-to-L (BERT-style: one chunk, tail dropped) the cost is
    * lost tokens. q84 audits ONE serving configuration; this is the
    * DESIGN-TIME frontier across L — pad_bp falls and trunc_bp rises
    * in L, and the table is where those curves cross.
    *
    * Scale shape: ONE corpus scan computes the per-doc token count;
    * the 4-row candidate grid rides a broadcast cross join and the
    * result is a 4-row aggregate — the corpus never moves twice and
    * nothing shuffles but the final 4-key groupBy. All integer
    * (ceil = (n + L − 1) div L; shares in basis points).
    */
  val q241ContextFrontier = QueryDef(
    "q241_context_frontier",
    "context-length frontier: padding-waste vs truncation-loss per candidate max_seq_len, one scan + broadcast grid",
    """WITH tok AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS BIGINT) AS n
      |  FROM documents),
      |t AS (SELECT doc_id, n FROM tok WHERE n > 0),
      |ls AS (SELECT unnest([64, 128, 256, 512]) AS l),
      |g AS (SELECT CAST(ls.l AS BIGINT) AS max_len, t.n,
      |        (t.n + ls.l - 1) // ls.l AS chunks,
      |        least(t.n, CAST(ls.l AS BIGINT)) AS kept,
      |        CASE WHEN t.n > ls.l THEN 1 ELSE 0 END AS over
      |      FROM t CROSS JOIN ls)
      |SELECT max_len,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  CAST(sum(chunks) AS BIGINT) AS pad_chunks,
      |  CAST(sum(chunks) * max_len - sum(n) AS BIGINT) AS pad_tokens,
      |  CAST((10000 * (sum(chunks) * max_len - sum(n))) // (sum(chunks) * max_len) AS BIGINT) AS pad_bp,
      |  CAST(sum(n) - sum(kept) AS BIGINT) AS trunc_tokens,
      |  CAST((10000 * (sum(n) - sum(kept))) // sum(n) AS BIGINT) AS trunc_bp,
      |  CAST(sum(over) AS BIGINT) AS docs_over
      |FROM g GROUP BY max_len
      |ORDER BY max_len""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => length(x) > 0))
          .cast("long").as("n"))
      .filter(col("n") > 0)
    val ls = s.createDataFrame(Seq(64L, 128L, 256L, 512L).map(Tuple1(_)))
      .toDF("max_len")
    t.crossJoin(broadcast(ls))
      .select(col("max_len"), col("n"),
        expr("(n + max_len - 1) div max_len").as("chunks"),
        least(col("n"), col("max_len")).as("kept"),
        when(col("n") > col("max_len"), 1L).otherwise(0L).as("over"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
        sum(col("chunks")).as("pad_chunks"),
        (sum(col("chunks")) * col("max_len") - sum(col("n"))).as("pad_tokens"),
        expr("(10000 * (sum(chunks) * max_len - sum(n))) div (sum(chunks) * max_len)")
          .as("pad_bp"),
        (sum(col("n")) - sum(col("kept"))).as("trunc_tokens"),
        expr("(10000 * (sum(n) - sum(kept))) div sum(n)").as("trunc_bp"),
        sum(col("over")).as("docs_over"))
      .orderBy(col("max_len"))
  }

  val all: Seq[QueryDef] =
    Seq(q56DeterministicSample, q57StratifiedMix, q77ShardStats,
      q81TokenBudgetMix, q84LengthBatches, q88TemperatureMix,
      q106SystematicSample, q133SourceUpsampling, q151DsirWeights,
      q219TimeSeriesCv, q232WeightedSample, q241ContextFrontier)
}
