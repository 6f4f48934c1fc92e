package graft.queries

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{QueryDef, Reuse, Tables}

/** Custom / typed aggregation (SURVEY.md §2.2 "custom typed
  * aggregate" + UDx rows): an `Aggregator[IN,BUF,OUT]` registered via
  * `functions.udaf` (the generalized user reduce hook the reference's
  * `reduce()` contract implies — reducer.c:23-38 is the `sum`
  * instance), exact interpolated percentiles, an HLL sketch, and the
  * typed `Dataset` flatMap→groupByKey→count pipeline (the typed form
  * of the reference's map/reduce surface).
  */
object AggregatorQueries {

  /** Geometric mean as sum-of-logs: associative+commutative buffer
    * merge — the same algebra contract the reference's combiner
    * exploits (mapper.c:75-88): partial buffers merge in any order.
    */
  object GeoMeanAgg extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Double, Long)): Double = math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val q41CustomAgg = QueryDef(
    "q41_custom_agg",
    "typed Aggregator (geometric mean via udaf) over lineitem prices per returnflag",
    """SELECT l_returnflag, count(*) AS n,
      |  round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val gm = udaf(GeoMeanAgg, Encoders.scalaDouble)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(gm(col("l_extendedprice")), 4).as("geo_mean_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles (SQL `percentile` ≡ DuckDB
    * `quantile_cont`, both the type-7 linear interpolation).
    */
  val q45Percentiles = QueryDef(
    "q45_percentiles",
    "exact interpolated quartiles of l_quantity per returnflag",
    """SELECT l_returnflag,
      |  round(q[1], 4) AS p25, round(q[2], 4) AS p50, round(q[3], 4) AS p75
      |FROM (SELECT l_returnflag, quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS q
      |      FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("q"))
      .select(col("l_returnflag"),
        round(element_at(col("q"), 1), 4).as("p25"),
        round(element_at(col("q"), 2), 4).as("p50"),
        round(element_at(col("q"), 3), 4).as("p75"))
      .orderBy(col("l_returnflag"))
  }

  /** HLL++ sketch (`approx_count_distinct`) — the scalable distinct
    * estimator (mergeable sketch → partial+final agg like any sum).
    * Sketch internals differ across engines, so the raw estimate has
    * no SQL twin — instead the query emits the exact count plus the
    * INVARIANT `within_5pct = |approx−exact|/exact ≤ 0.05`, and the
    * oracle asserts that flag `true` on every row: if the HLL estimate
    * ever drifts out of tolerance the hash compare fails. This turns
    * the former rows-only check into a real oracle gate; the spec
    * additionally pins the numeric estimate at ±5%.
    */
  val q46ApproxDistinct = QueryDef(
    "q46_approx_distinct",
    "approx_count_distinct (HLL++) users per event_type, gated within 5% of exact",
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  true AS within_5pct
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    // rsd 0.01: the default 0.05 sketch drifts past the 5% gate at
    // sf0.1 (measured — all five event_types share one correlated
    // user population), while a 1% sketch keeps the 5% invariant at
    // 5σ. Cost: 2^14 registers ≈ 16 KB per group — still a bounded
    // mergeable sketch, still partial+final aggregable.
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.05).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** The typed Dataset form of the reference's user hooks
    * (`Dataset.flatMap` = map(), `groupByKey(...).count` = reduce()):
    * same result as `wordcount`, produced through Encoders instead of
    * Column expressions.
    */
  val q47TypedMapreduce = QueryDef(
    "q47_typed_mapreduce",
    "typed Dataset flatMap → groupByKey → count (the reference's map/reduce hooks, typed)",
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY word""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select(col("text")).as[String]
      // NULL text yields no words (string_split(NULL) is NULL and
      // unnest(NULL) is empty in the twin) — typed lambdas see the
      // raw null, unlike Column expressions
      .flatMap(t => if (t == null) Iterator.empty else t.split(" ").iterator)
      .filter(_.nonEmpty)
      .groupByKey(identity)
      .count()
      .toDF("word", "cnt")
      .orderBy(col("word"))
  }

  /** Statistical aggregate family: Pearson correlation, sample/
    * population variance, sample covariance — single-pass partial-
    * aggregable moments (each merges as (n, Σx, Σx², Σxy) across
    * partitions, so the 100 TB plan is the same partial+final
    * HashAggregate as any sum). Spark and DuckDB share these
    * definitions exactly (unlike skewness/kurtosis, where DuckDB
    * applies sample-bias correction and Spark does not — excluded on
    * purpose). Results are order-dependent in the last ulps
    * (parallel summation) → rounded to 6 decimals on both sides;
    * quantity/discount magnitudes (≤50) keep ulp noise ~1e-13, far
    * under the rounding grain.
    */
  val q65StatsAgg = QueryDef(
    "q65_stats_agg",
    "statistical aggregates: corr / stddev / variance / covariance per returnflag",
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  round(stddev_samp(l_quantity), 6) AS sd_q,
      |  round(var_pop(l_quantity), 6) AS var_q,
      |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qd
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
        round(var_pop(col("l_quantity")), 6).as("var_q"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"))
      .orderBy(col("l_returnflag"))
  }

  /** Corpus heavy hitters via the native Misra–Gries `freq_topk`
    * aggregate (`plans/FreqTopKAgg`) — the bounded-communication
    * alternative to `wordcount`'s exact groupBy: partial state is
    * ≤ 1024 counters per partition, so the exchange moves ≤ 1024 rows
    * per partition no matter how large the vocabulary. On this
    * corpus the distinct-token count is far below the capacity, so no
    * decrement ever fires and every count is EXACT — the oracle
    * hash-checks the full (rank, word, cnt) table against DuckDB's
    * exact count. The constrained-capacity regime (estimates
    * undercount by ≤ N/(cap+1), true heavy hitters survive) is pinned
    * in `SketchSpec`.
    */
  val q87HeavyHitters = QueryDef(
    "q87_heavy_hitters",
    "top-20 corpus tokens via the native Misra-Gries freq_topk sketch aggregate",
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
      |  FROM documents),
      |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word)
      |SELECT * FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INT) AS rank,
      |         word, cnt
      |  FROM c)
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0))
        .as("word"))
      .agg(graft.plans.GraftFunctions.freqTopk(col("word"), 20, 1024).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.word").as("word"), col("e.cnt").as("cnt"))
      .orderBy(col("rank"))
  }

  /** Table profiler — the `summary()`-style audit a pipeline runs
    * before committing a training mix: per-column null count, exact
    * distinct cardinality, min/max/mean, one output row per column.
    *
    * Plan shape: one branch per column, each a column-PRUNED scan →
    * `groupBy(value)` partial hash aggregate → tiny final aggregate
    * over the compressed (value, count) rows, where the distinct
    * count is a plain `count` and the mean is Σ(v·cnt)/Σcnt. This is
    * deliberately NOT the single-pass multi-`countDistinct` form —
    * Spark plans that through an Expand that multiplies every row by
    * the number of distinct aggregates before the exchange (measured
    * 6.2 s at sf0.1 vs 0.9 s for this shape), and the Expand rows
    * carry ALL profiled columns where each branch here shuffles only
    * its own column's distinct values. Branches are independent
    * parallel stages; parquet makes the 8 pruned scans the same total
    * IO as one 8-column pass. At 100 TB swap the exact distinct for
    * `approx_count_distinct` (q46's HLL path) to drop the per-value
    * exchange entirely.
    */
  val q90ColumnProfile = QueryDef(
    "q90_column_profile",
    "per-column profile of lineitem (nulls, exact distincts, min/max/mean) in one pass",
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_v,
           |  CAST(max($c) AS DOUBLE) AS max_v,
           |  CASE WHEN count($c) = 0 THEN NULL
           |       ELSE CAST((100 * sum(CAST(round($c * 100) AS HUGEINT)))
           |                 // count($c) AS DOUBLE) / 10000.0 END AS avg_v
           |FROM lineitem""".stripMargin)
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")) { (s, d) =>
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d)
    cols.map { c =>
      li.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(col("v")).as("n_distinct"),
          min(col("v")).cast("double").as("min_v"),
          max(col("v")).cast("double").as("max_v"),
          // EXACT mean at 4 decimals: integer-cent sum in
          // decimal(38,0), integer floor-divide, ONE exact double at
          // the end — a raw double avg is summation-order-dependent,
          // and even an exact-sum round(.,4) hit a decimal round-half
          // tie at sf1 (100009.80225); floor arithmetic has no ties
          sum(when(col("v").isNotNull,
            expr("cast(round(v * 100) as decimal(38,0))") * col("cnt")))
            .as("s_cents"),
          sum(when(col("v").isNotNull, col("cnt"))).as("n_nn"))
        .select(lit(c).as("col_name"), col("n_null"), col("n_distinct"),
          col("min_v"), col("max_v"),
          when(col("n_nn") > 0,
            expr("cast((100 * s_cents) div n_nn as double) / 10000.0"))
            .as("avg_v"))
    }.reduce(_ unionAll _)
      .orderBy(col("col_name"))
  }

  /** Equi-width histogram with DATA-DRIVEN bounds — the optimizer-
    * stats / profiling companion to q90: pass 1 reduces the column to
    * its (min, max) scalar pair; pass 2 broadcasts that one row and
    * buckets every value with arithmetic spelled identically in both
    * engines (same operation order, so the IEEE doubles — and
    * therefore the floor — agree bit-for-bit). Scale shape: two
    * partial+final aggregates and a 1-row broadcast; the histogram
    * never shuffles the fact table beyond its own groupBy.
    */
  val q104Histogram = QueryDef(
    "q104_histogram",
    "20-bucket equi-width histogram of l_extendedprice per return flag, data-driven bounds",
    """WITH b AS (
      |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  CASE WHEN hi = lo THEN 0
      |       ELSE CAST(least(19, CAST(floor((l_extendedprice - lo) * 20 / (hi - lo)) AS BIGINT)) AS BIGINT)
      |  END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem, b
      |GROUP BY l_returnflag, bucket
      |ORDER BY l_returnflag, bucket""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val bounds = li.agg(
      min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi"))
    li.select(col("l_returnflag"), col("l_extendedprice"))
      .crossJoin(broadcast(bounds))
      // degenerate single-value range: (hi-lo)=0 would make the bucket
      // expression 0.0/0.0 = NaN (→ ANSI cast error); all rows belong
      // in bucket 0 — mirrored in the oracle's CASE
      .select(col("l_returnflag"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(19L),
            floor((col("l_extendedprice") - col("lo")) * 20 / (col("hi") - col("lo")))
              .cast("long"))).as("bucket"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  /** BPE tokenizer training (`api/BpeTrainer`): ONE corpus scan builds
    * the word-frequency vocab (the only corpus-scale work); the vocab
    * is bounded metadata, collected once, and the 24-merge loop runs
    * driver-local with incremental pair counts — zero Spark jobs per
    * merge (pinned in `BpeTrainerSpec`).
    *
    * Oracle strategy: the iterative merge loop has no single-SQL twin,
    * but its two SQL-expressible stages DO — the word-frequency scan
    * and the first merge argmax ((count DESC, pair ASC) over weighted
    * adjacent character pairs). The registered query therefore runs the
    * FULL 24-merge training (so the loop executes under the driver and
    * any failure surfaces), then emits the hash-checkable subset:
    * top-20 words by frequency plus the trainer's rank-1 merge. DuckDB
    * recomputes both from the raw corpus, shrinking the unoracled
    * surface to the loop alone — which `BpeTrainerSpec` pins EXACTLY
    * (order and counts) against a brute-force Sennrich-style reference
    * on this same table.
    */
  /** Memoized 24-merge BPE vocabulary of the corpus (the q95 training
    * run): the one corpus scan + driver-local merge loop is paid once
    * per (session, dir) and shared by q95 (stage-checkable training
    * report) and q235 (per-language fertility audit). At 100 TB the
    * memo's role is a persisted merges.txt artifact.
    */
  private[graft] def corpusMerges(
      s: org.apache.spark.sql.SparkSession,
      d: String): Seq[graft.api.BpeTrainer.Merge] =
    graft.Reuse.value[Seq[graft.api.BpeTrainer.Merge]](
      s, "bpe.merges24:" + d) {
      graft.api.BpeTrainer.train(Tables.documents(s, d), "text", 24)
    }

  val q95BpeTrain = QueryDef(
    "q95_bpe_train",
    "BPE training: full 24-merge run; oracle-checked word-frequency scan + first merge argmax",
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS w
      |  FROM documents),
      |f AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY w),
      |top_words AS (
      |  SELECT 'word' AS kind, w AS item, '' AS item2, n AS cnt
      |  FROM f ORDER BY n DESC, w LIMIT 20),
      |pairs AS (
      |  SELECT substr(w, CAST(i AS INT), 1) AS l, substr(w, CAST(i AS INT) + 1, 1) AS r, n
      |  FROM (SELECT w, n, unnest(range(1, length(w))) AS i FROM f)),
      |m1 AS (
      |  SELECT 'merge_1' AS kind, l AS item, r AS item2, CAST(sum(n) AS BIGINT) AS cnt
      |  FROM pairs GROUP BY l, r
      |  ORDER BY cnt DESC, l, r LIMIT 1)
      |SELECT * FROM (SELECT * FROM top_words UNION ALL SELECT * FROM m1)
      |ORDER BY kind, cnt DESC, item, item2""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    // full training still runs under the driver (memoized — q235
    // shares the same vocab); only merge #1 is SQL-checkable, the
    // loop itself is pinned in BpeTrainerSpec.
    val merges = corpusMerges(s, d)
    // empty corpus → no merges learnable → no merge row (the oracle's
    // argmax CTE is likewise empty)
    val mergeRow = merges.headOption.toSeq
      .map(m => ("merge_1", m.left, m.right, m.count))
      .toDF("kind", "item", "item2", "cnt")
    val words = graft.api.BpeTrainer.wordFrequencies(docs, "text")
      .orderBy(col("n").desc, col("w")).limit(20)
      .select(lit("word").as("kind"), col("w").as("item"),
        lit("").as("item2"), col("n").as("cnt"))
    words.unionAll(mergeRow)
      .orderBy(col("kind"), col("cnt").desc, col("item"), col("item2"))
  }

  /** One unrolled BPE training+application iteration for the q235
    * oracle: re-derive adjacent-pair counts from the current vocab
    * symbolization, take the (count DESC, l, r) argmax — the trainer's
    * exact tie-break — and rewrite every word's symbol string. Words
    * are carried as chr(31)-delimited symbol strings in the canonical
    * form `␟␟t1␟␟t2␟␟` (double separator between tokens AND at both
    * ends), because then one SQL `replace(s, ␟l␟␟r␟, ␟lr␟)` IS the
    * trainer's left-to-right single-pass [[graft.api.BpeTrainer.applyMerge]]:
    * replace scans left-to-right non-overlapping, the consumed outer
    * separators are re-emitted by the replacement, and overlapping
    * occurrences ("aaa" + merge(a,a) → ["aa","a"], never ["a","aa"])
    * resolve identically. Recomputing counts from scratch each
    * iteration ≡ the trainer's incremental deltas; the empty-argmax
    * CASE mirrors the trainer's `counts.nonEmpty` early stop.
    */
  private def bpeIterSql(k: Int): String =
    s"""p$k AS (SELECT tk[CAST(i AS INT)] AS l, tk[CAST(i AS INT) + 1] AS r, n
       |  FROM (SELECT n, tk, unnest(range(1, len(tk))) AS i
       |        FROM (SELECT n, list_filter(string_split(s, chr(31)), x -> x <> '') AS tk
       |              FROM v${k - 1}))),
       |m$k AS MATERIALIZED (SELECT l, r FROM p$k GROUP BY l, r ORDER BY sum(n) DESC, l, r LIMIT 1),
       |v$k AS MATERIALIZED (SELECT w, n,
       |  CASE WHEN (SELECT count(*) FROM m$k) = 0 THEN s
       |       ELSE replace(s,
       |         chr(31) || (SELECT l FROM m$k) || chr(31) || chr(31) || (SELECT r FROM m$k) || chr(31),
       |         chr(31) || (SELECT l || r FROM m$k) || chr(31)) END AS s
       |  FROM v${k - 1})""".stripMargin

  /** Tokenizer-health audit — the multilingual tokenizer-equity read
    * an LLM data team runs before committing a vocabulary (Rust et
    * al. 2021; the "fertility" metric): per language, how many BPE
    * tokens the q95 vocab spends per WORD (fertility) and how many
    * BYTES each token carries (compression). A language whose
    * characters/bigrams the trained merges never covered tokenizes
    * near character-level — fertility blows up toward the average
    * word length and bytes-per-token collapses toward 1 — which is
    * exactly the capacity-inequity signal that decides vocab size or
    * per-language corpus mixing ([[graft.api.BpeTrainer]] trains on
    * the whole corpus, so majority languages dominate the merges).
    * `BpeTrainerSpec` pins the fixture: a coverage-gap language reads
    * ≥ 2× the covered language's fertility under the same vocab.
    *
    * Integer exactness: both ratios are basis points via integer
    * `div` (the q121 micro convention) — no float crosses engines.
    *
    * Scale shape: ONE corpus scan → a (lang, word) vocab-bounded
    * count relation; the 24 learned merges are bounded metadata
    * captured into a map-side pass with a per-partition word memo
    * (Zipf collapses the merge loop to once per distinct word per
    * partition — [[graft.api.BpeTrainer.wordEncoder]]);
    * the final aggregate is |languages| rows. Nothing shuffles but
    * the word counts. Training itself is the memoized
    * [[corpusMerges]] q95 already pays.
    *
    * Oracle: full replay — the q95 word-frequency scan, 24 unrolled
    * training iterations ([[bpeIterSql]]: the replace-based exact
    * [[graft.api.BpeTrainer.applyMerge]] twin), per-word token counts
    * off the final symbolization, and the per-language integer
    * ratios. The one assumption is that no corpus word contains
    * chr(31) (the symbol delimiter), which holds for any text corpus
    * that survived C0-control stripping.
    */
  val q235TokenizerFertility = QueryDef(
    "q235_tokenizer_fertility",
    "tokenizer-health audit: per-language BPE fertility (tokens/word) and bytes/token of the q95 vocab, integer bp",
    s"""WITH docs_w AS (
       |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS w
       |  FROM documents),
       |lw AS MATERIALIZED (SELECT lang, w, CAST(count(*) AS BIGINT) AS n FROM docs_w GROUP BY lang, w),
       |v0 AS MATERIALIZED (SELECT w, CAST(sum(n) AS BIGINT) AS n,
       |         chr(31) || chr(31) ||
       |         array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), chr(31) || chr(31)) ||
       |         chr(31) || chr(31) AS s
       |       FROM lw GROUP BY w),
       |${(1 to 24).map(bpeIterSql).mkString(",\n")},
       |enc AS (SELECT w, len(list_filter(string_split(s, chr(31)), x -> x <> '')) AS n_tok
       |        FROM v24),
       |per AS (SELECT lang,
       |         CAST(sum(lw.n) AS BIGINT) AS n_words,
       |         CAST(sum(lw.n * enc.n_tok) AS BIGINT) AS n_tokens,
       |         CAST(sum(lw.n * strlen(lw.w)) AS BIGINT) AS n_bytes
       |       FROM lw JOIN enc USING (w) GROUP BY lang)
       |SELECT lang, n_words, n_tokens, n_bytes,
       |  CAST(CASE WHEN n_words = 0 THEN 0 ELSE (10000 * n_tokens) // n_words END AS BIGINT) AS fertility_bp,
       |  CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE (10000 * n_bytes) // n_tokens END AS BIGINT) AS bytes_per_token_bp
       |FROM per ORDER BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val ordered = corpusMerges(s, d).sortBy(_.rank).map(m => (m.left, m.right))
    val lw = docs
      .select(col("lang"),
        explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    // vocab-bounded merge application: map-side through one
    // BpeTrainer word encoder (a per-distinct-word memo) per partition
    val perWord = lw.as[(String, String, Long)].mapPartitions { it =>
      val enc = graft.api.BpeTrainer.wordEncoder(ordered)
      it.map { case (lang, w, n) =>
        (lang, n, n * enc(w).length, n * w.getBytes("UTF-8").length.toLong) }
    }.toDF("lang", "nw", "nt", "nb")
    perWord.groupBy(col("lang"))
      .agg(sum(col("nw")).as("n_words"), sum(col("nt")).as("n_tokens"),
        sum(col("nb")).as("n_bytes"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_bytes"),
        when(col("n_words") === 0, lit(0L))
          .otherwise(expr("(10000 * n_tokens) div n_words")).as("fertility_bp"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(10000 * n_bytes) div n_tokens")).as("bytes_per_token_bp"))
      .orderBy(col("lang"))
  }

  /** Count-min sketch over the corpus token stream — the
    * fixed-memory frequency estimator for vocabularies too large to
    * count exactly (the mergeable-sketch sibling of q87's Misra–Gries
    * top-k): d=4 hash rows × w=1024 counters, each occurrence
    * increments one counter per row, estimate = min over rows. The
    * counter table is 4096 rows REGARDLESS of corpus size — the
    * exchange after the partial aggregate is constant, and two
    * sketches merge by element-wise add (the distributed contract).
    * Here the build is the WEIGHTED form over the word-count relation
    * the exact twin needs anyway (increment by cnt — identical
    * counters, one corpus scan for the whole query, hashes once per
    * distinct word); a standalone sketch would partial-aggregate
    * (j, bkt) straight off the token stream.
    *
    * Every hash is engine-portable: the native codegen'd
    * `portable_hash64` (the q35 HUGEINT-replayable chain) reduced mod
    * p=1e9+7, then d universal hashes (a_j·h + b_j mod p mod w) in
    * plain BIGINT arithmetic that never overflows (a_j < 2^30,
    * h < 2^30 → products < 2^60) — so DuckDB replays the ENTIRE
    * sketch bit-for-bit and the oracle hash-checks estimates, not
    * just invariants. Output: the top-20 exact tokens with their CMS
    * estimate and overcount (≥ 0 by construction — CMS never
    * undercounts).
    */
  private val CmsA = Seq(609598081L, 105459229L, 430648391L, 938475301L)
  private val CmsB = Seq(334756439L, 887612923L, 213466917L, 754398461L)

  val q107CountMin = QueryDef(
    "q107_countmin",
    "count-min sketch (4x1024 portable hashes): estimate vs exact for the top-20 tokens",
    {
      val bucketCase = (sel: String) => (0 until 4).map { j =>
        s"WHEN $j THEN (${CmsA(j)} * $sel + ${CmsB(j)}) % 1000000007 % 1024"
      }.mkString("CASE j ", " ", " END")
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS t
         |  FROM documents),
         |ph AS (
         |  SELECT t, CAST(list_reduce(list_transform(string_split(t, ''),
         |           c -> CAST(ascii(c) AS BIGINT)), (a, x) -> (a*31 + x) % 1000000007) AS HUGEINT) AS z
         |  FROM tok),
         |m1 AS (SELECT t, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM ph),
         |m2 AS (SELECT t, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
         |hu AS (SELECT t, CAST(xor(z, z >> 31) % 1000000007 AS BIGINT) AS h FROM m2),
         |buck AS (
         |  SELECT t, CAST(j AS INT) AS j, ${bucketCase("h")} AS bkt
         |  FROM (SELECT t, h, unnest(range(0, 4)) AS j FROM hu)),
         |counters AS (
         |  SELECT j, bkt, CAST(count(*) AS BIGINT) AS c FROM buck GROUP BY j, bkt),
         |exact AS (
         |  SELECT t AS word, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM tok GROUP BY t ORDER BY exact_cnt DESC, word LIMIT 20),
         |qb AS (
         |  SELECT DISTINCT e.word, e.exact_cnt, b.j, b.bkt
         |  FROM exact e JOIN buck b ON b.t = e.word),
         |est AS (
         |  SELECT word, exact_cnt, min(c) AS cms_est
         |  FROM qb JOIN counters USING (j, bkt) GROUP BY word, exact_cnt)
         |SELECT word, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
         |FROM est ORDER BY exact_cnt DESC, word""".stripMargin
    }) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    import graft.plans.GraftFunctions
    val toks = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0))
        .as("t"))
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    def hmod(t: org.apache.spark.sql.Column) = {
      val h = GraftFunctions.portableHash64(t)
      // DuckDB's replay is over the UNSIGNED 64-bit value; lift the
      // signed Long into decimal(38,0) before the mod so both engines
      // reduce the same residue
      pmod(when(h < 0, h.cast("decimal(38,0)") + two64)
        .otherwise(h.cast("decimal(38,0)")), lit(1000000007L).cast("decimal(38,0)"))
        .cast("long")
    }
    def buckets(h: org.apache.spark.sql.Column) =
      posexplode(array((0 until 4).map(j =>
        (lit(CmsA(j)) * h + lit(CmsB(j))) % lit(1000000007L) % lit(1024L)): _*))
    // ONE corpus pass: map-side-combined word counts; both the sketch
    // and the exact side derive from it. The CMS counters are the
    // weighted build (increment by cnt instead of 1 per occurrence —
    // identical counters, hashes computed once per DISTINCT word, and
    // the (j, bkt) exchange still carries ≤ 4×1024 partial sums). The
    // corpus-token exchange this saves is exactly the word-count
    // exchange the query's exact side pays anyway; a pure-streaming
    // sketch with NO exact twin would instead partial-aggregate
    // (j, bkt) directly for a constant-size exchange.
    val wc = Reuse.query(
      toks.groupBy(col("t")).agg(count(lit(1)).as("cnt")))
    val counters = wc
      .select(col("cnt"), buckets(hmod(col("t"))).as(Seq("j", "bkt")))
      .groupBy(col("j"), col("bkt")).agg(sum(col("cnt")).as("c"))
    // point queries: the top-20 exact tokens (exactness provable at
    // this vocab size; at 100 TB the exact side is what you DON'T
    // have — you'd query the sketch alone)
    val exact = wc
      .orderBy(col("cnt").desc, col("t"))
      .limit(20)
      .select(col("t").as("word"), col("cnt").as("exact_cnt"))
    exact
      .select(col("word"), col("exact_cnt"),
        buckets(hmod(col("word"))).as(Seq("j", "bkt")))
      .join(broadcast(counters), Seq("j", "bkt"))
      .groupBy(col("word"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("word"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("word"))
  }

  /** Per-GROUP heavy hitters — q87's Misra–Gries sketch partitioned
    * by `source`: one `freq_topk` aggregate per group, so the
    * exchange carries ≤ capacity counters per (partition, source)
    * instead of the full per-source vocabulary. The grouped form is
    * what a mixing pipeline actually reads ("what dominates each
    * source?"); the oracle is the exact per-source count + rank
    * (capacity ≫ vocab here, so the sketch is provably exact — the
    * constrained regime is SketchSpec's job).
    */
  val q108SourceHitters = QueryDef(
    "q108_source_hitters",
    "top-5 tokens PER SOURCE via grouped Misra-Gries freq_topk sketch",
    """WITH w AS (
      |  SELECT source,
      |    unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
      |  FROM documents),
      |c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
      |      FROM w GROUP BY source, word)
      |SELECT * FROM (
      |  SELECT source,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS INT) AS rank,
      |         word, cnt
      |  FROM c)
      |WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("source"),
        explode(filter(split(col("text"), " "), t => length(t) > 0)).as("word"))
      .groupBy(col("source"))
      .agg(graft.plans.GraftFunctions.freqTopk(col("word"), 5, 1024).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("e.word").as("word"), col("e.cnt").as("cnt"))
      .orderBy(col("source"), col("rank"))
  }

  /** Quantile sketch (`approx_percentile`, the Greenwald–Khanna-style
    * `QuantileSummaries`) — the LAST member of the sketch family
    * (HLL q46, Misra–Gries q87/q108, count-min q107): bounded-memory
    * mergeable quantiles for corpus-scale distributions. The sketch's
    * merge order varies run to run, so the VALUES have no stable twin
    * — what IS deterministic is the GK guarantee itself: the rank of
    * the returned quantile lies within ε·n of the target (ε = 1/
    * accuracy = 0.01). The query therefore emits the rank-error GATE,
    * q46-style: rank(approx_p) counted exactly against the corpus,
    * flag true iff within 2ε·n + 1 (lenient two-sided form covering
    * the ≤-vs-< rank convention). A sketch regression (or a broken
    * merge) flips a flag and fails the hash compare.
    *
    * NULL semantics (fuzz class E closure, round 16): the sketch sees
    * only NON-NULL values, so the rank gate must too — `nn =
    * count(value)` is the GK n the ε·n guarantee is stated over, while
    * the emitted `n` stays count(*) (the group's size, NULLs
    * included, matching the oracle). The ap-broadcast join is
    * NULL-SAFE (`<=>`): a NULL event_type group must keep its row, not
    * vanish through an inner equi-join. An all-NULL group gates true
    * vacuously (le = 0, nn = 0). Output order pins NULLS LAST on both
    * engines.
    */
  val q112QuantileSketchGate = QueryDef(
    "q112_quantile_sketch_gate",
    "approx_percentile (GK sketch) p50/p90 per event_type, exact rank-error gate",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  true AS ok50, true AS ok90
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type NULLS LAST""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val aps = ev.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5, 0.9), 100)").as("ap"),
        count(lit(1)).as("n"), count(col("value")).as("nn"))
      .select(col("event_type").as("apt"),
        element_at(col("ap"), 1).as("ap50"),
        element_at(col("ap"), 2).as("ap90"), col("n"), col("nn"))
    ev.join(broadcast(aps), col("event_type") <=> col("apt"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"), first(col("nn")).as("nn"),
        sum(when(col("value") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") <= col("ap90"), 1L).otherwise(0L)).as("le90"))
      .select(col("event_type"), col("n"),
        (abs(col("le50") - col("nn") * 0.5) <= col("nn") * 0.02 + 1).as("ok50"),
        (abs(col("le90") - col("nn") * 0.9) <= col("nn") * 0.02 + 1).as("ok90"))
      .orderBy(asc_nulls_last("event_type"))
  }

  /** Statistical outlier detection (|z| > 3 per group) with EXACT
    * INTEGER arithmetic — the data-quality gate that flags corrupt
    * measurements before they skew a training mix. A naive
    * `(v - avg) / stddev` comparison is engine-DIVERGENT: parallel
    * float summation makes avg/stddev differ in ulps between Spark
    * and DuckDB (and between runs), and a value near the 3σ boundary
    * flips. Instead the predicate is cleared of divisions and square
    * roots: with v = ⌊100·value⌋ (exact in both engines — one IEEE
    * multiply + floor),
    *
    *   |v − μ| > 3σ  ⇔  (n·v − S)²·(n−1) > 9·n·(n·Q − S²)
    *
    * over integer sums S = Σv, Q = Σv² in decimal(38,0) — every
    * engine computes the identical integers, so the include/exclude
    * call is bit-exact. Scale shape: one partial+final aggregate to
    * the per-type moments (5 rows), broadcast back, per-row
    * predicate — no window, no second shuffle.
    */
  val q113Outliers = QueryDef(
    "q113_outliers",
    "per-event-type |z|>3 outliers via exact-integer moment arithmetic (no float drift)",
    """WITH v AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100) AS HUGEINT) AS v
      |  FROM events),
      |st AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(v) AS HUGEINT) AS s, CAST(sum(v*v) AS HUGEINT) AS q
      |  FROM v GROUP BY event_type)
      |SELECT event_id, v.event_type AS event_type, CAST(v AS BIGINT) AS value_cents
      |FROM v JOIN st ON v.event_type = st.event_type
      |WHERE n > 1
      |  AND (n*v - s) * (n*v - s) * (n - 1) > 9 * n * (n*q - s*s)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("decimal(38,0)").as("v"))
    val st = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
    val dev = col("n") * col("v") - col("s")
    ev.join(broadcast(st), "event_type")
      .filter(col("n") > 1)
      .filter(dev * dev * (col("n") - 1) >
        lit(9) * col("n") * (col("n") * col("q") - col("s") * col("s")))
      .select(col("event_id"), col("event_type"),
        col("v").cast("long").as("value_cents"))
      .orderBy(col("event_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q41CustomAgg, q45Percentiles, q46ApproxDistinct, q47TypedMapreduce,
    q65StatsAgg, q87HeavyHitters, q90ColumnProfile, q95BpeTrain, q235TokenizerFertility,
    q104Histogram, q107CountMin, q108SourceHitters, q112QuantileSketchGate,
    q113Outliers)
}
