package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Human-feedback / annotation aggregation operators — the label-
  * consolidation layer an RLHF or supervised-data pipeline runs after
  * raw judgments are collected (reference analogue: a reduce over
  * per-key vote lists, `reducer.c`'s merge loop; re-expressed as
  * partial-aggregable keyed shuffles).
  *
  * The fixture treats `events` as a judgment log: `user_id` is the
  * annotated item, each event is one vote whose label is `event_type`
  * and whose strength is the integer-cents `value` — the shapes (many
  * votes per item, small label enum) match a production annotation
  * table exactly.
  *
  * Determinism contract: counts and integer cents only across every
  * exchange; ties break lexicographically on the label (computed via
  * a max-count join-back, NOT an enum-index trick, so the queries
  * work on any label set); `div` flooring only at output.
  */
object AnnotationQueries {

  /** Majority-vote label consolidation + inter-annotator agreement.
    * Per item: total votes, the winning label (most votes, ties to
    * the lexicographically smallest — the only deterministic contract
    * under parallel aggregation), consensus share in basis points,
    * and the pairwise observed agreement `Σ n_c(n_c−1) / (n(n−1))`
    * (the per-item numerator of Fleiss' kappa's P̄ₒ) — the signal
    * annotation-QA dashboards threshold to route items to re-review.
    *
    * Scale shape: ONE (item, label) partial-aggregable shuffle, then
    * two same-key aggregates and a join-back on the already-grouped
    * relation — every exchange is keyed by item, no windows, no
    * driver state. NULL pair agreement on single-vote items (0/0)
    * rather than a fabricated 10000.
    */
  val q155LabelConsolidation = QueryDef(
    "q155_label_consolidation",
    "majority-vote label consolidation + pairwise annotator agreement (Fleiss P_o numerator) per item",
    """WITH v AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY user_id, event_type),
      |a AS (SELECT user_id, CAST(max(c) AS BIGINT) AS top_votes,
      |             CAST(sum(c) AS BIGINT) AS n_votes,
      |             CAST(sum(c * (c - 1)) AS BIGINT) AS same_pairs
      |      FROM v GROUP BY user_id),
      |t AS (SELECT v.user_id, min(v.event_type) AS top_label
      |      FROM v JOIN a ON a.user_id = v.user_id AND v.c = a.top_votes
      |      GROUP BY v.user_id)
      |SELECT a.user_id, a.n_votes, t.top_label, a.top_votes,
      |  (10000 * a.top_votes) // a.n_votes AS consensus_bp,
      |  CASE WHEN a.n_votes < 2 THEN NULL
      |       ELSE (10000 * a.same_pairs) // (a.n_votes * (a.n_votes - 1)) END AS pair_agree_bp
      |FROM a JOIN t ON t.user_id = a.user_id
      |ORDER BY a.user_id""".stripMargin) { (s, d) =>
    val v = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val a = v.groupBy(col("user_id"))
      .agg(max(col("c")).as("top_votes"),
        sum(col("c")).as("n_votes"),
        sum(col("c") * (col("c") - 1)).as("same_pairs"))
    // join-back through RENAMED columns: `a` is an aggregate OF `v`, so
    // a same-name condition would be an ambiguous self-join reference
    val ar = a.select(col("user_id").as("uid"), col("top_votes").as("tv"))
    val t = v.join(ar, col("user_id") === col("uid") && col("c") === col("tv"))
      .groupBy(col("user_id"))
      .agg(min(col("event_type")).as("top_label"))
    a.join(t, "user_id")
      .select(col("user_id"), col("n_votes"), col("top_label"),
        col("top_votes"),
        expr("(10000 * top_votes) div n_votes").as("consensus_bp"),
        when(col("n_votes") < 2, lit(null).cast("long"))
          .otherwise(expr("(10000 * same_pairs) div (n_votes * (n_votes - 1))"))
          .as("pair_agree_bp"))
      .orderBy(col("user_id"))
  }

  /** The |labels|²-row pairwise matchup matrix q156 (Copeland) and
    * q186 (Bradley–Terry) both consolidate from — per unordered label
    * pair, how many items strictly preferred each side and how many
    * tied. This is the only corpus-touching stage of the preference
    * family (one (item, label) partial-aggregable shuffle + the
    * bounded |labels|² item-keyed self-join), so it is paid once per
    * (session, sf) and pinned with `localCheckpoint` like
    * [[StatisticsQueries.compressedCents]]; both consumers then run
    * entirely on the 10-row matchup metadata.
    */
  def labelMatchups(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "annot.matchups:" + d) {
      val labels = Seq("click", "error", "purchase", "signup", "view")
      val s0 = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      val u = Tables.events(s, d).select(col("user_id")).distinct()
      val ty = s.createDataFrame(
        s.sparkContext.parallelize(labels.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType, nullable = false))))
      val dense = u.crossJoin(broadcast(ty))
        .join(s0, Seq("user_id", "event_type"), "left_outer")
        .select(col("user_id"), col("event_type"),
          coalesce(col("cents"), lit(0L)).as("cents"))
      val a = dense.alias("a")
      val b = dense.alias("b")
      a.join(b,
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(sum(when(col("a.cents") > col("b.cents"), 1L).otherwise(0L)).as("wa"),
          sum(when(col("b.cents") > col("a.cents"), 1L).otherwise(0L)).as("wb"),
          sum(when(col("a.cents") === col("b.cents"), 1L).otherwise(0L)).as("ties"))
    }

  /** Pairwise-preference aggregation via Copeland scoring — the
    * closed-form integer consolidation next to q186's iterative
    * Bradley–Terry strength fit (both read [[labelMatchups]]): each item
    * (user) casts one comparison per unordered label pair, a label
    * "beats" another for that item when its total integer-cents
    * strength is strictly larger, and a label's Copeland score earns
    * 2 per opponent it beats on aggregate wins and 1 per exact tie —
    * so Σ copeland_2x = 2·C(|labels|,2) always. This is the
    * preference-consolidation step of an RLHF reward-data pipeline
    * (which label do raters prefer, marginalizing over raters).
    *
    * Scale shape: one (item, label) partial-aggregable shuffle, a
    * dense item×label grid via a BROADCAST constant label relation
    * (absent labels count as 0-strength, so every item votes on every
    * pair), then an item-keyed self-join whose fan-out is bounded by
    * |labels|² — q142's bounded-enum join idiom — collapsing straight
    * to a |labels|²-row matchup matrix. The corpus never moves twice.
    */
  val q156PreferenceCopeland = QueryDef(
    "q156_preference_copeland",
    "pairwise preference aggregation: per-item label matchups -> Copeland ranking (integer-exact RLHF vote consolidation)",
    """WITH s0 AS (SELECT user_id, event_type,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |            FROM events GROUP BY user_id, event_type),
      |u AS (SELECT DISTINCT user_id FROM events),
      |ty AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
      |dense AS (SELECT u.user_id, ty.event_type, coalesce(s0.cents, 0) AS cents
      |          FROM u CROSS JOIN ty
      |          LEFT JOIN s0 ON s0.user_id = u.user_id AND s0.event_type = ty.event_type),
      |m AS (SELECT a.event_type AS ta, b.event_type AS tb,
      |             CAST(sum(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END) AS BIGINT) AS wa,
      |             CAST(sum(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END) AS BIGINT) AS wb,
      |             CAST(sum(CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END) AS BIGINT) AS ties
      |      FROM dense a JOIN dense b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY a.event_type, b.event_type),
      |d AS (SELECT ta AS event_type, wa AS w, wb AS l, ties FROM m
      |      UNION ALL SELECT tb, wb, wa, ties FROM m)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS matchups,
      |  CAST(sum(w) AS BIGINT) AS wins, CAST(sum(l) AS BIGINT) AS losses,
      |  CAST(sum(ties) AS BIGINT) AS ties,
      |  CAST(sum(CASE WHEN w > l THEN 2 WHEN w = l THEN 1 ELSE 0 END) AS BIGINT) AS copeland_2x
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val m = labelMatchups(s, d)
    val dir = m.select(col("ta").as("event_type"), col("wa").as("w"),
        col("wb").as("l"), col("ties"))
      .unionAll(m.select(col("tb").as("event_type"), col("wb").as("w"),
        col("wa").as("l"), col("ties")))
    dir.groupBy(col("event_type"))
      .agg(count(lit(1)).as("matchups"),
        sum(col("w")).as("wins"),
        sum(col("l")).as("losses"),
        sum(col("ties")).as("ties"),
        sum(when(col("w") > col("l"), 2L)
          .when(col("w") === col("l"), 1L).otherwise(0L)).as("copeland_2x"))
      .orderBy(col("event_type"))
  }

  /** Bradley–Terry preference-strength fit — the model an RLHF
    * reward pipeline actually trains on pairwise judgments, fit here
    * as two unrolled minorization–maximization (MM) steps in exact
    * integer micro-units so both engines replay the SAME floors
    * (q89's unrolled-Lloyd convention; this retires the old "no
    * engine-stable replay" caveat in q156's scaladoc). Per MM step,
    * with strengths `s` in ppm (start: 1e6 each):
    *
    *   t_ij  = n_ij·10¹² div (s_i + s_j)      (0 when n_ij = 0)
    *   raw_i = W_i·10¹² div Σ_j t_ij          (prior 1e6 when Σ = 0)
    *   s_i   = max(1, raw_i·k·10⁶ div Σ raw)  (renormalize: Σs ≈ k·10⁶)
    *
    * where n_ij counts DECISIVE games (ties drop, the standard BT
    * treatment), W_i total wins, k = |labels|. The max(1,·) floor
    * keeps strengths positive so the next step's divisor never
    * vanishes; the renormalization product runs in DECIMAL(38,0)
    * (DuckDB HUGEINT) because raw·k·10⁶ can pass 2⁶³. All divisions
    * are non-negative, where Spark `div` ≡ DuckDB `//`. Overflow
    * bound: n_ij·10¹² needs n_ij < 9.2e6 — repin the 10¹² scale down
    * at ~10⁶ items per pair.
    *
    * Scale shape: the corpus is touched only inside the memoized
    * [[labelMatchups]]; both MM steps run on |labels|²-row metadata
    * through broadcast joins, so the fit costs nothing at 100 TB
    * beyond the matchup build it shares with q156.
    */
  val q186BradleyTerry = QueryDef(
    "q186_bradley_terry",
    "Bradley-Terry preference strengths: two exact-integer MM steps on the memoized pairwise matchup matrix",
    """WITH s0 AS (SELECT user_id, event_type,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |            FROM events GROUP BY user_id, event_type),
      |u AS (SELECT DISTINCT user_id FROM events),
      |ty AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
      |dense AS (SELECT u.user_id, ty.event_type, coalesce(s0.cents, 0) AS cents
      |          FROM u CROSS JOIN ty
      |          LEFT JOIN s0 ON s0.user_id = u.user_id AND s0.event_type = ty.event_type),
      |m AS (SELECT a.event_type AS ta, b.event_type AS tb,
      |             CAST(sum(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END) AS BIGINT) AS wa,
      |             CAST(sum(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END) AS BIGINT) AS wb
      |      FROM dense a JOIN dense b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY a.event_type, b.event_type),
      |dir AS (SELECT ta AS i, tb AS j, wa + wb AS n, wa AS w FROM m
      |        UNION ALL SELECT tb, ta, wa + wb, wb FROM m),
      |wt AS (SELECT i, CAST(sum(w) AS BIGINT) AS wins,
      |              CAST(sum(n) AS BIGINT) AS games FROM dir GROUP BY i),
      |w0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM wt),
      |t1 AS (SELECT dir.i,
      |         CASE WHEN dir.n = 0 THEN 0
      |              ELSE dir.n * 1000000000000 // (si.s + sj.s) END AS t
      |       FROM dir JOIN w0 si ON si.i = dir.i JOIN w0 sj ON sj.i = dir.j),
      |d1 AS (SELECT i, CAST(sum(t) AS BIGINT) AS den FROM t1 GROUP BY i),
      |r1 AS (SELECT wt.i,
      |         CASE WHEN den > 0 THEN wt.wins * 1000000000000 // den
      |              ELSE 1000000 END AS raw
      |       FROM wt JOIN d1 ON d1.i = wt.i),
      |n1 AS (SELECT CAST(sum(raw) AS HUGEINT) AS tot, CAST(count(*) AS BIGINT) AS k FROM r1),
      |w1 AS (SELECT i, greatest(CAST(1 AS BIGINT),
      |         CAST(CAST(raw AS HUGEINT) * (k * 1000000) // tot AS BIGINT)) AS s
      |       FROM r1, n1),
      |t2 AS (SELECT dir.i,
      |         CASE WHEN dir.n = 0 THEN 0
      |              ELSE dir.n * 1000000000000 // (si.s + sj.s) END AS t
      |       FROM dir JOIN w1 si ON si.i = dir.i JOIN w1 sj ON sj.i = dir.j),
      |d2 AS (SELECT i, CAST(sum(t) AS BIGINT) AS den FROM t2 GROUP BY i),
      |r2 AS (SELECT wt.i,
      |         CASE WHEN den > 0 THEN wt.wins * 1000000000000 // den
      |              ELSE 1000000 END AS raw
      |       FROM wt JOIN d2 ON d2.i = wt.i),
      |n2 AS (SELECT CAST(sum(raw) AS HUGEINT) AS tot, CAST(count(*) AS BIGINT) AS k FROM r2),
      |w2 AS (SELECT i, greatest(CAST(1 AS BIGINT),
      |         CAST(CAST(raw AS HUGEINT) * (k * 1000000) // tot AS BIGINT)) AS s
      |       FROM r2, n2)
      |SELECT wt.i AS event_type, wt.games, wt.wins, w2.s AS strength_ppm
      |FROM wt JOIN w2 ON w2.i = wt.i
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val m = labelMatchups(s, d)
    val dir = m.select(col("ta").as("i"), col("tb").as("j"),
        (col("wa") + col("wb")).as("n"), col("wa").as("w"))
      .unionAll(m.select(col("tb").as("i"), col("ta").as("j"),
        (col("wa") + col("wb")).as("n"), col("wb").as("w")))
    val wt = dir.groupBy(col("i"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("games"))
    def step(str: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val si = str.select(col("i").as("ii"), col("s").as("si"))
      val sj = str.select(col("i").as("jj"), col("s").as("sj"))
      val t = dir.join(broadcast(si), col("i") === col("ii"))
        .join(broadcast(sj), col("j") === col("jj"))
        .select(col("i"),
          when(col("n") === 0, lit(0L))
            .otherwise(expr("n * 1000000000000L div (si + sj)")).as("t"))
      val den = t.groupBy(col("i")).agg(sum(col("t")).as("den"))
      val raw = wt.join(broadcast(den), "i")
        .select(col("i"),
          when(col("den") > 0, expr("wins * 1000000000000L div den"))
            .otherwise(lit(1000000L)).as("raw"))
      val tot = raw.agg(sum(col("raw")).as("tot"), count(lit(1)).as("k"))
      raw.crossJoin(broadcast(tot))
        .select(col("i"),
          greatest(lit(1L),
            expr("cast(cast(raw as decimal(38,0)) * (k * 1000000L) div tot as bigint)"))
            .as("s"))
    }
    val w0 = wt.select(col("i"), lit(1000000L).as("s"))
    val w2 = step(step(w0))
    wt.join(w2, "i")
      .select(col("i").as("event_type"), col("games"), col("wins"),
        col("s").as("strength_ppm"))
      .orderBy(col("event_type"))
  }

  /** Corpus-level chance-corrected agreement — the two standard
    * reliability coefficients an annotation pipeline reports before
    * trusting a label set (q155 gives the per-item observed-agreement
    * numerator; this is the corpus roll-up WITH the chance
    * correction): Fleiss' kappa (generalized to variable raters per
    * item) and Krippendorff's nominal alpha from the coincidence
    * matrix. Raw agreement of 0.8 means nothing if chance agreement
    * is 0.75 — kappa/alpha are what QA gates threshold.
    *
    * Definitions over the n≥2-vote item universe (single-vote items
    * carry no pair information, so BOTH the observed and the expected
    * terms exclude them — the universes must match or the correction
    * is biased):
    *   P̄ₒ = mean_i [Σ_c n_ic(n_ic−1) / (n_i(n_i−1))]
    *   P̄ₑ = Σ_c (T_c/T)²            κ = (P̄ₒ−P̄ₑ)/(1−P̄ₑ)
    *   D_o = 1 − (1/T)·Σ_i Σ_c n_ic(n_ic−1)/(n_i−1)
    *   D_e = 1 − Σ_c T_c(T_c−1)/(T(T−1))   α = 1 − D_o/D_e
    *
    * Exactness: per-item terms floor to integer MICRO units, corpus
    * sums and divisions stay integral (the q121 convention); the
    * T_c² / T_c(T_c−1) marginal sums ride decimal(38)/HUGEINT so the
    * 10⁶-scaled products survive any corpus size. Both coefficients
    * can be NEGATIVE (worse than chance) — integer division of
    * negatives FLOORS in DuckDB (`//`) but TRUNCATES in Spark
    * (`div`), so the sign is split out and division always sees a
    * non-negative numerator, identical in both engines.
    *
    * Scale shape: ONE (item, label) partial-aggregable shuffle (the
    * q155 relation), an item-keyed aggregate, a label-keyed aggregate
    * over the same universe (semi-join on the already-aggregated
    * ≤|items| relation, never the event log), then 1-row×1-row cross
    * join arithmetic. No windows, no driver state.
    */
  val q237AgreementKappa = QueryDef(
    "q237_agreement_kappa",
    "chance-corrected inter-annotator agreement: Fleiss' kappa + Krippendorff's nominal alpha, exact integer micro units",
    """WITH v AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY user_id, event_type),
      |it AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |              CAST(sum(c * (c - 1)) AS BIGINT) AS sp
      |       FROM v GROUP BY user_id HAVING sum(c) >= 2),
      |per AS (SELECT n, (1000000 * sp) // (n * (n - 1)) AS po_i,
      |               (1000000 * sp) // (n - 1) AS oc_i
      |        FROM it),
      |itot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
      |                CAST(sum(n) AS BIGINT) AS n_votes,
      |                CAST(sum(po_i) AS BIGINT) AS po_sum,
      |                CAST(sum(oc_i) AS BIGINT) AS oc_sum FROM per),
      |lv AS (SELECT v.event_type, CAST(sum(v.c) AS BIGINT) AS tc
      |       FROM v JOIN it ON it.user_id = v.user_id GROUP BY v.event_type),
      |ltot AS (SELECT CAST(count(*) AS BIGINT) AS n_labels,
      |                sum(CAST(tc AS HUGEINT) * tc) AS tc2,
      |                sum(CAST(tc AS HUGEINT) * (tc - 1)) AS tc1 FROM lv),
      |m AS (SELECT n_items, n_votes, n_labels,
      |        CASE WHEN n_items = 0 THEN NULL ELSE po_sum // n_items END AS po_micro,
      |        CASE WHEN n_votes IS NULL OR n_votes < 2 THEN NULL
      |             ELSE CAST((1000000 * tc2) // (CAST(n_votes AS HUGEINT) * n_votes) AS BIGINT) END AS pe_micro,
      |        CASE WHEN n_votes IS NULL OR n_votes < 2 THEN NULL
      |             ELSE 1000000 - (oc_sum // n_votes) END AS do_micro,
      |        CASE WHEN n_votes IS NULL OR n_votes < 2 THEN NULL
      |             ELSE 1000000 - CAST((1000000 * tc1) // (CAST(n_votes AS HUGEINT) * (n_votes - 1)) AS BIGINT) END AS de_micro
      |      FROM itot, ltot)
      |SELECT n_items, n_votes, n_labels, po_micro, pe_micro,
      |  CASE WHEN pe_micro IS NULL OR po_micro IS NULL OR pe_micro >= 1000000 THEN NULL
      |       WHEN po_micro >= pe_micro THEN (10000 * (po_micro - pe_micro)) // (1000000 - pe_micro)
      |       ELSE -((10000 * (pe_micro - po_micro)) // (1000000 - pe_micro)) END AS kappa_bp,
      |  do_micro, de_micro,
      |  CASE WHEN de_micro IS NULL OR do_micro IS NULL OR de_micro <= 0 THEN NULL
      |       WHEN de_micro >= do_micro THEN (10000 * (de_micro - do_micro)) // de_micro
      |       ELSE -((10000 * (do_micro - de_micro)) // de_micro) END AS alpha_bp
      |FROM m
      |ORDER BY n_items""".stripMargin) { (s, d) =>
    // the (item, label) relation feeds BOTH the item aggregate and the
    // label-marginal branch — persist for the query's scope so the
    // event log is scanned once
    val v = graft.Reuse.query(Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c")))
    val it = v.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * (col("c") - 1)).as("sp"))
      .filter(col("n") >= 2)
    val per = it.select(col("n"),
      expr("(1000000 * sp) div (n * (n - 1))").as("po_i"),
      expr("(1000000 * sp) div (n - 1)").as("oc_i"))
    val itot = per.agg(count(lit(1)).as("n_items"), sum(col("n")).as("n_votes"),
      sum(col("po_i")).as("po_sum"), sum(col("oc_i")).as("oc_sum"))
    // label marginals over the SAME n≥2 universe — join-back through a
    // RENAMED key (`it` is an aggregate OF `v`, the q155 idiom)
    val itr = it.select(col("user_id").as("uid"))
    val lv = v.join(itr, col("user_id") === col("uid"))
      .groupBy(col("event_type")).agg(sum(col("c")).as("tc"))
    val ltot = lv.agg(count(lit(1)).as("n_labels"),
      sum(expr("cast(tc as decimal(38,0)) * tc")).as("tc2"),
      sum(expr("cast(tc as decimal(38,0)) * (tc - 1)")).as("tc1"))
    itot.crossJoin(broadcast(ltot))
      .select(col("n_items"), col("n_votes"), col("n_labels"),
        when(col("n_items") === 0, lit(null).cast("long"))
          .otherwise(expr("po_sum div n_items")).as("po_micro"),
        when(col("n_votes").isNull || col("n_votes") < 2, lit(null).cast("long"))
          .otherwise(expr("cast((cast(1000000 as decimal(38,0)) * tc2) div (cast(n_votes as decimal(38,0)) * n_votes) as bigint)"))
          .as("pe_micro"),
        when(col("n_votes").isNull || col("n_votes") < 2, lit(null).cast("long"))
          .otherwise(lit(1000000L) - expr("oc_sum div n_votes")).as("do_micro"),
        when(col("n_votes").isNull || col("n_votes") < 2, lit(null).cast("long"))
          .otherwise(lit(1000000L) -
            expr("cast((cast(1000000 as decimal(38,0)) * tc1) div (cast(n_votes as decimal(38,0)) * (n_votes - 1)) as bigint)"))
          .as("de_micro"))
      .select(col("n_items"), col("n_votes"), col("n_labels"),
        col("po_micro"), col("pe_micro"),
        when(col("pe_micro").isNull || col("po_micro").isNull ||
          col("pe_micro") >= 1000000, lit(null).cast("long"))
          .when(col("po_micro") >= col("pe_micro"),
            expr("(10000 * (po_micro - pe_micro)) div (1000000 - pe_micro)"))
          .otherwise(-expr("(10000 * (pe_micro - po_micro)) div (1000000 - pe_micro)"))
          .as("kappa_bp"),
        col("do_micro"), col("de_micro"),
        when(col("de_micro").isNull || col("do_micro").isNull ||
          col("de_micro") <= 0, lit(null).cast("long"))
          .when(col("de_micro") >= col("do_micro"),
            expr("(10000 * (de_micro - do_micro)) div de_micro"))
          .otherwise(-expr("(10000 * (do_micro - de_micro)) div de_micro"))
          .as("alpha_bp"))
      .orderBy(col("n_items"))
  }

  /** Per-annotator reliability scoring — the rater audit that closes
    * the annotation-QA loop (q155 scores ITEMS, q237 scores the
    * CORPUS; this scores the RATERS): each judgment is attributed to
    * its annotator (the `props.k` rater id), every item's consensus
    * is the q155 majority label (max votes, lexicographic tie), and
    * each rater reports votes, consensus hits, hit rate, and the
    * deviation from the corpus-wide mean hit rate — the signal that
    * routes low-agreement raters to re-training and their labels to
    * re-review. NULL rater ids (unattributable judgments) are
    * excluded by contract — and because Spark orders NULLs first
    * where DuckDB orders them last.
    *
    * Scale shape: ONE (item, label, rater) partial-aggregable shuffle
    * compresses the judgment log; the consensus relation derives from
    * its (item, label) roll-up (no second corpus scan — the
    * compressed relation is scope-persisted and feeds both branches);
    * the rater roll-up is one more keyed aggregate; the corpus mean
    * rides a broadcast 1-row cross join. dev_bp is a SUBTRACTION of
    * two non-negative floors, so the signed value never meets integer
    * division (the q237 truncate-vs-floor rule).
    */
  val q243AnnotatorQuality = QueryDef(
    "q243_annotator_quality",
    "per-annotator reliability: consensus-hit rate + deviation from the corpus mean, one compressed judgment shuffle",
    """WITH v AS (SELECT item, label, rater FROM (
      |             SELECT user_id AS item, event_type AS label,
      |                    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS rater
      |             FROM events)
      |           WHERE rater IS NOT NULL),
      |vr AS (SELECT item, label, rater, CAST(count(*) AS BIGINT) AS cnt
      |       FROM v GROUP BY item, label, rater),
      |c AS (SELECT item, label, CAST(sum(cnt) AS BIGINT) AS n FROM vr GROUP BY item, label),
      |mx AS (SELECT item, CAST(max(n) AS BIGINT) AS top FROM c GROUP BY item),
      |mj AS (SELECT c.item, min(c.label) AS top_label
      |       FROM c JOIN mx ON mx.item = c.item AND c.n = mx.top
      |       GROUP BY c.item),
      |h AS (SELECT vr.rater, CAST(sum(vr.cnt) AS BIGINT) AS n_votes,
      |             CAST(sum(CASE WHEN vr.label = mj.top_label THEN vr.cnt ELSE 0 END) AS BIGINT) AS n_hit
      |      FROM vr JOIN mj ON mj.item = vr.item GROUP BY vr.rater),
      |t AS (SELECT CAST(sum(n_votes) AS BIGINT) AS tv, CAST(sum(n_hit) AS BIGINT) AS th FROM h)
      |SELECT h.rater, h.n_votes, h.n_hit,
      |  (10000 * h.n_hit) // h.n_votes AS hit_bp,
      |  (10000 * h.n_hit) // h.n_votes - (10000 * t.th) // t.tv AS dev_bp
      |FROM h, t
      |ORDER BY h.rater""".stripMargin) { (s, d) =>
    // hash the compact raw rows by item BEFORE the JSON parse (round
    // 18; the r17 n-grams convention): the per-row get_json_object
    // work then runs at full parallelism instead of at the scan's
    // file count (job trace: a single-task 0.8 s scan+parse job), and
    // item-partitioning pre-satisfies vr/c/mx and the vr⋈mj join —
    // the one exchange replaces three
    val sp = s.sparkContext.defaultParallelism
    val vr = graft.Reuse.query(Tables.events(s, d)
      .repartition(sp, col("user_id"))
      .select(col("user_id").as("item"), col("event_type").as("label"),
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("rater"))
      .filter(col("rater").isNotNull)
      .groupBy(col("item"), col("label"), col("rater"))
      .agg(count(lit(1)).as("cnt")))
    val c = vr.groupBy(col("item"), col("label")).agg(sum(col("cnt")).as("n"))
    val mx = c.groupBy(col("item")).agg(max(col("n")).as("top"))
      .select(col("item").as("mitem"), col("top"))
    val mj = c.join(mx, col("item") === col("mitem") && col("n") === col("top"))
      .groupBy(col("item")).agg(min(col("label")).as("top_label"))
      .select(col("item").as("jitem"), col("top_label"))
    // h feeds the corpus-mean aggregate AND the final projection —
    // persist (≤ |raters| rows) so the consensus join runs once
    val h = graft.Reuse.query(
      vr.join(mj, col("item") === col("jitem"))
        .groupBy(col("rater"))
        .agg(sum(col("cnt")).as("n_votes"),
          sum(when(col("label") === col("top_label"), col("cnt")).otherwise(0L))
            .as("n_hit")))
    val t = h.agg(sum(col("n_votes")).as("tv"), sum(col("n_hit")).as("th"))
    h.crossJoin(broadcast(t))
      .select(col("rater"), col("n_votes"), col("n_hit"),
        expr("(10000 * n_hit) div n_votes").as("hit_bp"),
        (expr("(10000 * n_hit) div n_votes") - expr("(10000 * th) div tv"))
          .as("dev_bp"))
      .orderBy(col("rater"))
  }

  val all: Seq[QueryDef] =
    Seq(q155LabelConsolidation, q156PreferenceCopeland, q186BradleyTerry,
      q237AgreementKappa, q243AnnotatorQuality)
}
