package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Ranked retrieval over `documents` (SURVEY.md §2.2 EXT "text
  * analysis" family): BM25 scoring — the standard probabilistic
  * ranking function (Robertson et al., TREC-3) and the default scorer
  * in Lucene/Elasticsearch. Extends the q55 TF-IDF family with
  * length-normalized term saturation.
  *
  * Scale shape: the query term set is tiny and FIXED, so per-term
  * term frequencies are array HOFs evaluated per row — the corpus is
  * scanned ONCE with no explode and no (doc, term) shuffle at all.
  * The only aggregate is the global stats row (N, Σdl, per-term df):
  * a single partial+final aggregate producing ONE row, broadcast back
  * into the scoring scan. Top-k is sort+limit (TakeOrderedAndProject:
  * per-partition top-k, k-row merge — never a global sort of the
  * corpus).
  *
  * Determinism: the per-doc score is ONE fixed-shape expression
  * (idf1·s1 + idf2·s2 + idf3·s3, left-associated identically in both
  * engines) — there is no floating SUM across rows anywhere, so
  * summation order cannot diverge. Ranking uses the unrounded double
  * (the q55 convention); output rounds at 4dp for the hash compare.
  */
object RetrievalQueries {

  private def toks(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** BM25 parameters — the universal defaults. */
  private val K1 = 1.2
  private val B = 0.75

  private val QueryTerms = Seq("spark", "window", "join")

  val q114Bm25 = {
    // DuckDB twin: identical expression structure, term order, and
    // left-associated additions.
    val tfSql = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf${i + 1}"
    }.mkString(",\n      |    ")
    val dfSql = QueryTerms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf${i + 1} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df${i + 1}"
    }.mkString(",\n      |    ")
    val scoreSql = QueryTerms.indices.map { i =>
      val n = i + 1
      s"""ln(1.0 + (n_docs - df$n + 0.5) / (df$n + 0.5))
         |      * (tf$n * ${K1 + 1.0}) / (tf$n + $K1 * (1.0 - $B + $B * dl * n_docs / sum_dl))"""
        .stripMargin
    }.mkString("\n      |    + ")
    QueryDef(
      "q114_bm25",
      "BM25 ranked retrieval: top-20 documents for a fixed 3-term query, single corpus scan, no (doc,term) shuffle",
      s"""WITH per AS (
        |  SELECT doc_id, len(w) AS dl,
        |    $tfSql
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |        FROM documents)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl,
        |    $dfSql
        |  FROM per),
        |scored AS (
        |  SELECT doc_id,
        |    $scoreSql
        |    AS score
        |  FROM per, stats)
        |SELECT doc_id, round(score, 4) AS bm25, rn FROM (
        |  SELECT doc_id, score,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rn
        |  FROM scored)
        |WHERE rn <= 20
        |ORDER BY rn""".stripMargin) { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("w"))
        .select(
          col("doc_id") +: size(col("w")).as("dl") +:
            QueryTerms.zipWithIndex.map { case (t, i) =>
              size(filter(col("w"), x => x === t)).as(s"tf${i + 1}")
            }: _*)
      val statsCols = count(lit(1)).as("n_docs") +:
        sum(col("dl")).as("sum_dl") +:
        QueryTerms.indices.map { i =>
          sum(when(col(s"tf${i + 1}") > 0, 1L).otherwise(0L))
            .as(s"df${i + 1}")
        }
      val stats = per.agg(statsCols.head, statsCols.tail: _*)
      // one fixed-shape expression, left-associated like the SQL —
      // no floating aggregate anywhere
      val score = QueryTerms.indices.map { i =>
        val tf = col(s"tf${i + 1}").cast("double")
        val df = col(s"df${i + 1}").cast("double")
        val idf = log(lit(1.0) +
          (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
        idf * (tf * lit(K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") * col("n_docs") / col("sum_dl")))
      }.reduceLeft(_ + _)
      per.crossJoin(broadcast(stats))
        .withColumn("score", score)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))).cast("int"))
        .select(col("doc_id"), round(col("score"), 4).as("bm25"), col("rn"))
        .orderBy(col("rn"))
    }
  }

  /** The globally-ranked quality-signal relation q127 (Borda) and
    * q160 (RRF) both consume: the three integer per-doc signals
    * (length, lexical diversity, mean token length) each ranked via
    * the scale-safe `api.Ranking.withRank`. Three range-repartition
    * passes are paid ONCE per (session, sf) — and, with
    * `spark.graft.memo.dir` set, once per CORPUS SNAPSHOT through
    * [[graft.api.MemoCatalog]]: the ranked-signal table is exactly
    * what production materializes per snapshot for every fusion
    * strategy to read.
    */
  def rankedQualitySignals(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "qranks:" + d,
        Seq(Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"), col("text")))) {
      val per = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), toks(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"),
          col("n_chars").cast("long").as("s_len"),
          floor(lit(10000.0) * size(array_distinct(col("w"))) / size(col("w")))
            .cast("long").as("s_div"),
          floor(lit(1000000.0) * length(concat_ws("", col("w"))) / size(col("w")))
            .cast("long").as("s_tok"))
      Seq(("s_len", "r_len"), ("s_div", "r_div"), ("s_tok", "r_tok"))
        .foldLeft(per) { case (df, (sig, rk)) =>
          graft.api.Ranking.withRank(df, Seq.empty,
            Seq(col(sig).desc, col("doc_id")), rk, s"__t_$rk")
            .drop(s"__t_$rk")
        }
    }

  /** Quality-ensemble ranking — rank aggregation (Borda count) over
    * three independent per-doc quality signals: document length,
    * lexical diversity (distinct-token ratio), and mean token length.
    * Combining RANKS instead of raw scores is the standard way to
    * blend signals with incomparable scales; the ensemble winner list
    * feeds curation the same way q81's quality rank does.
    *
    * Scale shape: signals are per-row HOFs (one corpus scan, no
    * shuffle); each global rank runs through `api.Ranking.withRank` —
    * range repartition + metadata-sized offsets, NEVER the
    * single-reducer `row_number() OVER (ORDER BY ...)` the SQL twin
    * uses (fine for DuckDB, a funnel at 100 TB). Dense rank over a
    * TOTAL order (doc_id tie-break) equals row_number, so the oracle
    * twin is exact. Signals and the Borda sum are all integers.
    */
  val q127QualityEnsemble = QueryDef(
    "q127_quality_ensemble",
    "Borda-count quality ensemble: three integer signals ranked via scale-safe withRank, top-50 by rank sum",
    """WITH per AS (
      |  SELECT doc_id,
      |    CAST(n_chars AS BIGINT) AS s_len,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS s_div,
      |    CAST(floor(1000000.0 * length(array_to_string(w, '')) / len(w)) AS BIGINT) AS s_tok
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)
      |  WHERE len(w) > 0),
      |ranked AS (
      |  SELECT doc_id, s_len, s_div, s_tok,
      |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT) AS r_len,
      |    CAST(row_number() OVER (ORDER BY s_div DESC, doc_id) AS BIGINT) AS r_div,
      |    CAST(row_number() OVER (ORDER BY s_tok DESC, doc_id) AS BIGINT) AS r_tok
      |  FROM per)
      |SELECT doc_id, r_len, r_div, r_tok,
      |  r_len + r_div + r_tok AS borda,
      |  CAST(row_number() OVER (ORDER BY r_len + r_div + r_tok, doc_id) AS INT) AS rn
      |FROM ranked
      |ORDER BY borda, doc_id
      |LIMIT 50""".stripMargin) { (s, d) =>
    rankedQualitySignals(s, d)
      .withColumn("borda", col("r_len") + col("r_div") + col("r_tok"))
      .orderBy(col("borda"), col("doc_id"))
      .limit(50)
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("borda"), col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("r_len"), col("r_div"), col("r_tok"),
        col("borda"), col("rn"))
      .orderBy(col("rn"))
  }

  /** Reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09) — the
    * OTHER standard rank aggregator next to q127's Borda count, and
    * the one hybrid lexical+vector search engines actually ship
    * (Elasticsearch/OpenSearch hybrid query, Vespa): score(d) =
    * Σᵣ 1/(k + rankᵣ(d)), k = 60. Where Borda's linear rank sum lets
    * one ranker's tail drag a document down, RRF's hyperbolic decay
    * rewards documents near the TOP of any ranker — the property that
    * makes it robust to fusing incomparable retrievers.
    *
    * Fused here: the q127 length and lexical-diversity signals as two
    * independent rankers. Each per-term 1/(60+r) is kept EXACT as the
    * integer `10⁶ div (60+r)` (integer division, no float summation
    * anywhere); ties in the fused score break by doc_id.
    *
    * Scale shape: both global ranks ride `api.Ranking.withRank`
    * (range repartition + metadata offsets — never a single-reducer
    * global window); the final top-20 is sort+limit
    * (TakeOrderedAndProject). The SQL twin uses plain row_number —
    * fine for DuckDB, a funnel at 100 TB (the q127 note).
    */
  val q160RrfFusion = QueryDef(
    "q160_rrf_fusion",
    "reciprocal-rank fusion of length + diversity rankers: integer 10^6 div (60+rank) terms, top-20",
    """WITH per AS (
      |  SELECT doc_id,
      |    CAST(n_chars AS BIGINT) AS s_len,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS s_div
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)
      |  WHERE len(w) > 0),
      |ranked AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT) AS r_len,
      |    CAST(row_number() OVER (ORDER BY s_div DESC, doc_id) AS BIGINT) AS r_div
      |  FROM per),
      |fused AS (
      |  SELECT doc_id, r_len, r_div,
      |    1000000 // (60 + r_len) + 1000000 // (60 + r_div) AS rrf_micro
      |  FROM ranked)
      |SELECT doc_id, r_len, r_div, rrf_micro,
      |  CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT) AS rn
      |FROM fused
      |ORDER BY rrf_micro DESC, doc_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    rankedQualitySignals(s, d)
      .withColumn("rrf_micro",
        expr("1000000L div (60 + r_len) + 1000000L div (60 + r_div)"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(20)
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("r_len"), col("r_div"), col("rrf_micro"),
        col("rn"))
      .orderBy(col("rn"))
  }

  /** Quality filter sweep — the DataComp-style selection curve a
    * curation run reads BEFORE committing to a quality cutoff: bucket
    * the corpus into ensemble-quality deciles (decile 1 = best 10% by
    * the q127 Borda order) and report per-decile and CUMULATIVE
    * doc/token retention, cumulative token share in bp. "Keep the top
    * 30%" then reads its cost straight off row 3 — the
    * threshold-vs-volume tradeoff made visible, the same pre-commit
    * role q169's histogram plays for dedup.
    *
    * Scale shape: THIRD consumer of the memoized
    * [[rankedQualitySignals]] relation (pay-once, the
    * compressedCents convention); the quality-order rank rides
    * `api.Ranking.withRank` over (borda, doc_id) — never a global
    * row_number window; token counts come from one documents scan
    * joined on doc_id; the decile aggregate and the cumulative
    * windows run on the 10-row METADATA relation.
    */
  val q183FilterSweep = QueryDef(
    "q183_filter_sweep",
    "quality-cutoff selection curve: per-decile and cumulative doc/token retention over the q127 Borda order",
    """WITH per AS (
      |  SELECT doc_id,
      |    CAST(n_chars AS BIGINT) AS s_len,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS s_div,
      |    CAST(floor(1000000.0 * length(array_to_string(w, '')) / len(w)) AS BIGINT) AS s_tok,
      |    CAST(len(w) AS BIGINT) AS ntok
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)
      |  WHERE len(w) > 0),
      |ranked AS (
      |  SELECT doc_id, ntok,
      |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT) AS r_len,
      |    CAST(row_number() OVER (ORDER BY s_div DESC, doc_id) AS BIGINT) AS r_div,
      |    CAST(row_number() OVER (ORDER BY s_tok DESC, doc_id) AS BIGINT) AS r_tok
      |  FROM per),
      |q AS (SELECT doc_id, ntok,
      |        CAST(row_number() OVER (ORDER BY r_len + r_div + r_tok, doc_id) AS BIGINT) AS rk,
      |        CAST(count(*) OVER () AS BIGINT) AS n
      |      FROM ranked),
      |dec AS (SELECT ((rk - 1) * 10) // n + 1 AS decile,
      |          CAST(count(*) AS BIGINT) AS n_docs,
      |          CAST(sum(ntok) AS BIGINT) AS n_tokens
      |        FROM q GROUP BY decile)
      |SELECT decile, n_docs, n_tokens,
      |  CAST(sum(n_docs) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
      |  CAST(sum(n_tokens) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST((10000 * sum(n_tokens) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |    // (SELECT sum(n_tokens) FROM dec) AS BIGINT) AS cum_token_share_bp
      |FROM dec ORDER BY decile""".stripMargin) { (s, d) =>
    val ntok = Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("ntok"))
    val borda = rankedQualitySignals(s, d)
      .select(col("doc_id"),
        (col("r_len") + col("r_div") + col("r_tok")).as("borda"))
      .join(ntok, "doc_id")
    val q = graft.api.Ranking.withRank(borda, Seq.empty,
      Seq(col("borda"), col("doc_id")), "rk", "n")
    val dec = q
      // integer decile: `div`, not `/` (Spark `/` on longs is DOUBLE);
      // operands are positive so div == floor division on both engines
      .select(expr("((rk - 1) * 10) div n").as("decile"), col("ntok"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .select((col("decile") + 1).as("decile"), col("n_docs"), col("n_tokens"))
    // cumulative view over the 10-row metadata relation
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    dec
      .crossJoin(broadcast(dec.agg(sum(col("n_tokens")).as("tot_toks"))))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        sum(col("n_docs")).over(w).as("cum_docs"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        expr("(10000 * sum(n_tokens) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) DIV tot_toks")
          .as("cum_token_share_bp"))
      .orderBy(col("decile"))
  }

  /** Pareto frontier over two quality signals — the multi-objective
    * face of selection that q127's Borda scalarization hides: Borda
    * commits to ONE blend of the signals, the frontier surfaces every
    * document NOT dominated on (lexical diversity, length) — the
    * candidate set a curator picks a tradeoff from (short-and-diverse
    * versus long-and-repetitive both survive; strictly-worse docs
    * never do). Fifth consumer of the memoized
    * [[rankedQualitySignals]] relation. Complements q102's PER-GROUP
    * skyline (per-brand sorted streaming sweep over unbounded keys):
    * this one is GLOBAL, and its bounded bp dimension admits the
    * cheaper spine-window plan below.
    *
    * Scale shape — the 2-D skyline WITHOUT the quadratic NOT-EXISTS
    * self-join the textbook SQL uses: dominance collapses to
    * `on frontier ⇔ s_len = max_len(s_div) AND s_len > M(s_div)`,
    * M(q) = running max of per-quality max length over STRICTLY
    * higher quality. s_div is bounded in [0,10⁴] bp, so the per-q
    * maxima form a ≤10001-row METADATA spine: one partial-aggregable
    * groupBy(s_div), one running-max window over the spine (the
    * q138/q189 spine-window precedent), and a broadcast join back to
    * the corpus. Duplicate (s_div, s_len) points tie without strict
    * dominance — both survive, matching the NOT-EXISTS contract
    * exactly.
    */
  val q193ParetoFrontier = QueryDef(
    "q193_pareto_frontier",
    "Pareto frontier on (lexical diversity, length): spine-windowed 2-D skyline, no quadratic dominance join",
    """WITH per AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(n_chars AS BIGINT) AS s_len,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS s_div
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)
      |  WHERE len(w) > 0)
      |SELECT p.doc_id, p.s_div, p.s_len
      |FROM per p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM per o
      |  WHERE o.s_div >= p.s_div AND o.s_len >= p.s_len
      |    AND (o.s_div > p.s_div OR o.s_len > p.s_len))
      |ORDER BY p.s_div DESC, p.doc_id""".stripMargin) { (s, d) =>
    val per = rankedQualitySignals(s, d)
      .select(col("doc_id"), col("s_div"), col("s_len"))
    val spine = per.groupBy(col("s_div")).agg(max(col("s_len")).as("ml"))
    val w = Window.orderBy(col("s_div").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = spine.withColumn("hi", max(col("ml")).over(w))
    per.join(broadcast(m), "s_div")
      .filter(col("s_len") === col("ml") &&
        (col("hi").isNull || col("s_len") > col("hi")))
      .select(col("doc_id"), col("s_div"), col("s_len"))
      .orderBy(col("s_div").desc, col("doc_id"))
  }

  /** Rank-biased overlap (Webber/Moffat/Zobel 2010) between the two
    * quality rankers q160 fuses — the DECISION input before fusing:
    * RBO@10 near 1 means the rankers are redundant and fusion adds
    * nothing; near 0 means they disagree and RRF is load-bearing.
    * Unlike Spearman/Kendall over full rankings (q159's class), RBO
    * is TOP-WEIGHTED and defined on indefinite/truncated lists — the
    * right agreement measure for top-k ranker output.
    *
    * Exactness: RBO@K = (1−p)·Σ_{d≤K} p^{d−1}·|S_d∩T_d|/d with
    * p = 9/10, K = 10 is a RATIONAL with fixed denominator
    * D = 2520·10¹⁰ (2520 = lcm 1..10) — each depth's weight
    * 9^{d−1}·10^{10−d}·(2520/d) ships as a LITERAL spine (no pow()
    * in either engine), overlaps are o_d = |{doc: r_len≤d ∧ r_div≤d}|
    * straight off the shared rank relation, and the cumulative
    * numerator rides decimal(38,0)/HUGEINT. Output: per depth —
    * overlap, agreement bp, and the running rbo_ppm whose d=10 row
    * IS RBO@10 (identical rankings read ⌊10⁶(1−0.9¹⁰)⌋ = 651321).
    *
    * Scale shape: third consumer of the memoized
    * [[rankedQualitySignals]] relation; only docs with either rank
    * ≤ 10 survive the pre-filter (≤ 2K rows), so the spine fan-out,
    * counts, and windows are all metadata-sized.
    */
  val q249RankAgreement = QueryDef(
    "q249_rank_agreement",
    "rank-biased overlap of the length vs diversity rankers at top-10: exact rational p=9/10 weights, running rbo_ppm",
    """WITH per AS (
      |  SELECT doc_id,
      |    CAST(n_chars AS BIGINT) AS s_len,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS s_div
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)
      |  WHERE len(w) > 0),
      |ranked AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT) AS r_len,
      |    CAST(row_number() OVER (ORDER BY s_div DESC, doc_id) AS BIGINT) AS r_div
      |  FROM per),
      |spine AS (
      |  SELECT * FROM (VALUES
      |    (1, 2520000000000), (2, 1134000000000), (3, 680400000000),
      |    (4, 459270000000), (5, 330674400000), (6, 248005800000),
      |    (7, 191318760000), (8, 150663523500), (9, 120530818800),
      |    (10, 97629963228)) AS t(depth, w_num)),
      |o AS (SELECT s.depth, s.w_num,
      |        CAST(count(r.doc_id) AS BIGINT) AS overlap
      |      FROM spine s LEFT JOIN ranked r
      |        ON r.r_len <= s.depth AND r.r_div <= s.depth
      |      GROUP BY s.depth, s.w_num)
      |SELECT CAST(depth AS BIGINT) AS depth, overlap,
      |  (10000 * overlap) // depth AS agreement_bp,
      |  CAST((1000000 * sum(CAST(overlap AS HUGEINT) * w_num)
      |          OVER (ORDER BY depth))
      |       // 25200000000000 AS BIGINT) AS rbo_ppm
      |FROM o
      |ORDER BY depth""".stripMargin) { (s, d) =>
    import s.implicits._
    val spine = Seq.tabulate(10) { i =>
      val dep = i + 1
      (dep.toLong,
        (BigInt(9).pow(dep - 1) * BigInt(10).pow(10 - dep) * (2520 / dep))
          .toLong)
    }.toDF("depth", "w_num")
    val top = rankedQualitySignals(s, d)
      .filter(col("r_len") <= 10 || col("r_div") <= 10)
      .select(col("r_len"), col("r_div"))
    val o = broadcast(spine).join(top,
        col("r_len") <= col("depth") && col("r_div") <= col("depth"),
        "left_outer")
      .groupBy(col("depth"), col("w_num"))
      .agg(count(col("r_len")).as("overlap"))
    o.select(col("depth"), col("overlap"),
        expr("(10000 * overlap) div depth").as("agreement_bp"),
        expr("""cast((cast(1000000 as decimal(38,0)) *
                sum(cast(overlap as decimal(38,0)) * w_num)
                  over (order by depth))
                div cast(25200000000000 as decimal(38,0)) as bigint)""")
          .as("rbo_ppm"))
      .orderBy(col("depth"))
  }

  val all: Seq[QueryDef] =
    Seq(q114Bm25, q127QualityEnsemble, q160RrfFusion, q183FilterSweep,
      q193ParetoFrontier, q249RankAgreement)
}
