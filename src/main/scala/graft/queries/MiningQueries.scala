package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pattern-mining operators: association rules over the order/part
  * market baskets (the q100 co-purchase graph's rule-mining twin).
  */
object MiningQueries {

  /** The shared per-order basket relation (sorted part arrays, ≤ 7
    * elements by the TPC-H data model) and the support-counted
    * co-purchase pair table (u < v, support ≥ 2) derived from it.
    * q100 (triangle counting) and q116 (association rules) are both
    * consumers — a production pipeline materializes the co-occurrence
    * edge list once and every graph/rule/recommender job reads it, so
    * both are factored here and memoized per (session, sfDir) exactly
    * like [[DedupQueries.clusterAssignments]]: within one process the
    * basket shuffle and the pair-support count are paid once, and the
    * `localCheckpoint` pins the relation across consumers. At 100 TB
    * the memo's role is played by writing the edge list to storage.
    */
  def orderBaskets(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "mining.baskets:" + d) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps"))
    }

  /** u<v part pairs with co-occurrence support ≥ 2 — map-side HOF
    * expansion of the sorted baskets (never a corpus self-join; the
    * q100 guard: `sequence(0,-1)` DESCENDS, so single-part baskets
    * are handled explicitly), then one pair-keyed count shuffle.
    */
  def pairSupport(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "mining.pairs:" + d) {
      val pairCol = when(size(col("ps")) < 2,
        array().cast("array<struct<u:bigint,v:bigint>>"))
        .otherwise(flatten(transform(
          sequence(lit(0), size(col("ps")) - 2),
          i => transform(
            slice(col("ps"), i + 2, size(col("ps"))),
            x => struct(element_at(col("ps"), i + 1).as("u"), x.as("v"))))))
      orderBaskets(s, d)
        .select(explode(pairCol).as("uv"))
        .groupBy(col("uv.u").as("u"), col("uv.v").as("v"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
    }

  /** Association rules (support / confidence / lift) over per-order
    * part baskets — Apriori's pair stage, the classic co-purchase
    * recommender signal.
    *
    * Scale shape (the q100 idiom): one shuffle groups each order's
    * basket (≤ 7 parts by the TPC-H data model), a sorted-array HOF
    * emits u<v pairs MAP-SIDE (never a corpus self-join), one more
    * shuffle counts pair support; per-part counts and the order total
    * derive from the same cached basket relation. Rules materialize
    * only for pairs at support ≥ 2 — the support threshold is what
    * keeps the rule set sub-quadratic at any scale (a pair must
    * co-occur twice, so |rules| ≤ |co-occurring pairs|, not |parts|²).
    * Top-100 by lift via sort+limit (TakeOrderedAndProject).
    *
    * Determinism: counts are exact ints; confidence and lift are each
    * ONE double expression of exact ints, structurally identical in
    * the oracle; ranking uses the unrounded double (q55 convention),
    * rounding at 4dp only at output.
    */
  val q116AssociationRules = QueryDef(
    "q116_association_rules",
    "association rules: support>=2 part pairs with confidence + lift, map-side basket expansion, top-100 by lift",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
      |pc AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY p),
      |pr AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS c
      |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |       GROUP BY a.p, b.p),
      |rules AS (
      |  SELECT u AS antecedent, v AS consequent, c AS n_ab FROM pr WHERE c >= 2
      |  UNION ALL
      |  SELECT v, u, c FROM pr WHERE c >= 2),
      |scored AS (
      |  SELECT r.antecedent, r.consequent, r.n_ab, pa.n_p AS n_a, pb.n_p AS n_b,
      |    CAST(r.n_ab AS DOUBLE) / pa.n_p AS conf,
      |    (CAST(r.n_ab AS DOUBLE) * n.n_orders) / (CAST(pa.n_p AS DOUBLE) * pb.n_p) AS lift
      |  FROM rules r
      |  JOIN pc pa ON pa.p = r.antecedent
      |  JOIN pc pb ON pb.p = r.consequent, n)
      |SELECT antecedent, consequent, n_ab, n_a, n_b,
      |  round(conf, 4) AS confidence, round(lift, 4) AS lift
      |FROM (SELECT * FROM scored
      |      ORDER BY lift DESC, antecedent, consequent LIMIT 100)
      |ORDER BY lift DESC, antecedent, consequent""".stripMargin) { (s, d) =>
    val baskets = orderBaskets(s, d)
    val pr = pairSupport(s, d)
    val pc = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val n = baskets.select(count(lit(1)).as("n_orders"))
    val rules = pr.select(col("u").as("antecedent"), col("v").as("consequent"),
        col("c").as("n_ab"))
      .unionAll(pr.select(col("v").as("antecedent"), col("u").as("consequent"),
        col("c").as("n_ab")))
    rules
      .join(pc.select(col("p").as("antecedent"), col("n_p").as("n_a")), "antecedent")
      .join(pc.select(col("p").as("consequent"), col("n_p").as("n_b")), "consequent")
      .crossJoin(broadcast(n))
      .withColumn("conf", col("n_ab").cast("double") / col("n_a"))
      .withColumn("lift",
        (col("n_ab").cast("double") * col("n_orders")) /
          (col("n_a").cast("double") * col("n_b")))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(100)
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_a"), col("n_b"),
        round(col("conf"), 4).as("confidence"), round(col("lift"), 4).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
  }

  /** FK-candidate discovery by value containment — the schema-
    * inference profiler: for column pair (A.x → B.y), containment =
    * |distinct(A.x) ∩ distinct(B.y)| / |distinct(A.x)|; 10000 bp
    * means every A.x value exists in B.y, i.e. x is referentially
    * valid against y. Run over a fixed candidate pair list (schema
    * metadata — bounded by #columns², not by data) including true
    * FKs, reverse directions (coverage: do all parents have
    * children?), and a type-compatible non-FK pair, so the output
    * demonstrates discrimination, not just confirmation.
    *
    * Scale shape: each pair costs two column-pruned distinct
    * aggregates and one semi join ON THE DISTINCT SETS (never the
    * fact tables), i.e. shuffles carry |distinct| rows of one
    * column. Results are 1-row relations unioned driver-side —
    * the union is over the bounded pair list, not data.
    * Containment is integer basis points.
    */
  val q119FkDiscovery = {
    val pairs = Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("orders", "o_orderkey", "lineitem", "l_orderkey"),
      ("customer", "c_custkey", "orders", "o_custkey"),
      ("supplier", "s_suppkey", "customer", "c_custkey"))
    val oracle = pairs.map { case (ft, fc, tt, tc) =>
      s"""SELECT '$ft.$fc' AS fk_col, '$tt.$tc' AS pk_col,
         |  CAST((SELECT count(DISTINCT $fc) FROM $ft) AS BIGINT) AS n_distinct,
         |  CAST((SELECT count(*) FROM
         |          (SELECT DISTINCT $fc AS v FROM $ft) a
         |          SEMI JOIN (SELECT DISTINCT $tc AS v FROM $tt) b USING (v))
         |       AS BIGINT) AS n_contained""".stripMargin
    }.mkString("WITH raw AS (\n", "\nUNION ALL\n", ")") +
      """
        |SELECT fk_col, pk_col, n_distinct, n_contained,
        |  CAST(floor(10000.0 * n_contained / n_distinct) AS BIGINT) AS containment_bp
        |FROM raw
        |ORDER BY fk_col, pk_col""".stripMargin
    QueryDef(
      "q119_fk_discovery",
      "FK-candidate discovery: distinct-value containment profiling over a fixed column-pair list, basis points",
      oracle) { (s, d) =>
      import s.implicits._
      // STACKED evaluation: one cached relation of distinct
      // (column, value) pairs covers every side of every candidate
      // pair, so each profiled column pays its distinct exactly once
      // and ALL containments resolve in a single value-keyed equi
      // join against the broadcast pair list — versus a join+2
      // aggregates per pair (measured 4.4 s → the stage-count, not
      // the data, was the cost at 10 pairs; at a schema-wide pair
      // list the per-pair form is quadratically worse).
      val colIds = pairs
        .flatMap { case (ft, fc, tt, tc) => Seq((ft, fc), (tt, tc)) }
        .distinct
      // distinct AFTER the union: one partial-aggregated shuffle on
      // (cid, v) replaces 12 per-column distinct stages (measured
      // 2.3 s → 0.9 s for the stacked relation at sf0.1)
      val stacked = graft.Reuse.query(
        colIds.map { case (t, c) =>
          Tables.load(s, d, t)
            .select(lit(s"$t.$c").as("cid"), col(c).cast("long").as("v"))
        }.reduceLeft(_ unionAll _).distinct())
      val nd = stacked.groupBy(col("cid")).agg(count(lit(1)).as("n_distinct"))
      val pairList = pairs
        .map { case (ft, fc, tt, tc) => (s"$ft.$fc", s"$tt.$tc") }
        .toDF("fk_col", "pk_col")
      val inter = stacked.alias("a")
        .join(broadcast(pairList), col("a.cid") === col("fk_col"))
        .join(stacked.alias("b"),
          col("a.v") === col("b.v") && col("pk_col") === col("b.cid"))
        .groupBy(col("fk_col"), col("pk_col"))
        .agg(count(lit(1)).as("n_contained"))
      // LEFT joins from the pair list: the SQL twin's scalar
      // subqueries emit all 10 profile rows even over EMPTY tables
      // (n_distinct 0, containment NULL), so the profiled pair list —
      // not the data — must drive the output (fuzz class C)
      pairList
        .join(nd, col("cid") === col("fk_col"), "left_outer")
        .join(inter, Seq("fk_col", "pk_col"), "left_outer")
        .select(col("fk_col"), col("pk_col"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("n_contained"), lit(0L)).as("n_contained"),
          when(coalesce(col("n_distinct"), lit(0L)) === 0,
            lit(null).cast("long"))
            .otherwise(floor(lit(10000.0) *
              coalesce(col("n_contained"), lit(0L)) / col("n_distinct"))
              .cast("long")).as("containment_bp"))
        .orderBy(col("fk_col"), col("pk_col"))
    }
  }

  /** Entity-resolution golden record — the MDM survivorship build:
    * three deterministic "source system" feeds of the customer
    * dimension (CRM as-is; web with case-mangled names, refreshed
    * balances; a stale legacy feed with padded names and sparse
    * segments) are matched on a normalized blocking key
    * (lower(trim(name))) and merged into one golden row per entity
    * with per-attribute survivorship rules:
    *   name    — highest source priority;
    *   segment — first NON-NULL by priority;
    *   acctbal — most recently updated feed;
    * plus source count and last-update audit columns.
    *
    * Scale shape: each rule is a `max_by` over a composite INTEGER
    * ordering (non-nullness · recency · priority folded into one
    * long), so the whole merge is a single partial-aggregable key
    * shuffle — no window, no per-entity sort. Every survivorship
    * ordering is a TOTAL order: rule rank in the high bits, the
    * source record id (custkey mod 2⁴⁰) in the low bits — without the
    * id tiebreak a MERGED match key (e.g. the NULL-name group a
    * null-bearing feed produces: hundreds of customers, many rows at
    * the same rule rank) picks an engine-dependent winner, the fuzz
    * class-B finding this closes. Non-nullness still ranks first
    * where null args are possible (DuckDB `arg_max` skips null args;
    * Spark `max_by` doesn't — a null-arg row never wins unless the
    * whole group is null, which yields NULL in both).
    */
  val q120GoldenRecord = QueryDef(
    "q120_golden_record",
    "entity-resolution golden record: 3-feed survivorship merge (priority/non-null/recency rules), one key shuffle",
    """WITH feeds AS (
      |  SELECT c_custkey AS rec, c_name AS name, 3 AS priority,
      |    c_custkey % 90 + 10 AS upd,
      |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS segment,
      |    c_acctbal AS acctbal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, upper(c_name), 2, c_custkey % 97 + 5, c_mktsegment,
      |    c_acctbal + 10.0
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_name || '  ', 1, 3,
      |    CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END,
      |    0.0
      |  FROM customer)
      |SELECT replace(
      |    regexp_replace(nfc_normalize(lower(trim(name))), '\pM', '', 'g'),
      |    'ß', 'ss') AS match_key,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  arg_max(name, priority * 1099511627776 + rec % 1099511627776) AS name,
      |  arg_max(segment,
      |    ((CASE WHEN segment IS NOT NULL THEN 1 ELSE 0 END) * 10 + priority)
      |      * 1099511627776 + rec % 1099511627776) AS segment,
      |  arg_max(acctbal,
      |    (upd * 10 + priority) * 1099511627776 + rec % 1099511627776) AS acctbal,
      |  CAST(max(upd) AS BIGINT) AS last_updated
      |FROM feeds
      |GROUP BY match_key
      |ORDER BY match_key""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s) // native unicode_normalize
    val c = Tables.load(s, d, "customer")
    val crm = c.select(col("c_custkey").as("rec"),
      col("c_name").as("name"), lit(3L).as("priority"),
      (pmod(col("c_custkey"), lit(90L)) + 10L).as("upd"),
      when(pmod(col("c_custkey"), lit(3L)) === 0L, lit(null))
        .otherwise(col("c_mktsegment")).as("segment"),
      col("c_acctbal").as("acctbal"))
    val web = c.select(col("c_custkey").as("rec"),
      upper(col("c_name")).as("name"), lit(2L).as("priority"),
      (pmod(col("c_custkey"), lit(97L)) + 5L).as("upd"),
      col("c_mktsegment").as("segment"),
      (col("c_acctbal") + 10.0).as("acctbal"))
    val legacy = c.select(col("c_custkey").as("rec"),
      concat(col("c_name"), lit("  ")).as("name"),
      lit(1L).as("priority"), lit(3L).as("upd"),
      when(pmod(col("c_custkey"), lit(2L)) === 0L, lit(null))
        .otherwise(col("c_mktsegment")).as("segment"),
      lit(0.0).as("acctbal"))
    // record-id tiebreak in the low 40 bits totalizes every ordering
    val tb = lit(1099511627776L) // 2^40
    def ord(rank: org.apache.spark.sql.Column) =
      rank * tb + pmod(col("rec"), tb)
    // MARK-INSENSITIVE, FULL-CASEFOLDED blocking key: NFC + strip
    // \p{M} after the case fold, then ß→ss. Standard MDM blocking
    // hygiene AND the engine-parity pin for locale folding: JDK
    // lower('İ') is the FULL mapping i+U+0307 while utf8proc's is the
    // simple 'i' (compose-then-strip-marks lands both on 'i'), and
    // JDK upper('ß') is the full 'SS' while utf8proc keeps 'ß'
    // (folding ß→ss lands both on 'ss'). ASCII keys are untouched;
    // é survives as its NFC composition.
    crm.unionAll(web).unionAll(legacy)
      .groupBy(
        regexp_replace(
          regexp_replace(
            call_function("unicode_normalize", lower(trim(col("name"))),
              lit("NFC")),
            lit("\\p{M}"), lit("")),
          lit("ß"), lit("ss")).as("match_key"))
      .agg(count(lit(1)).as("n_sources"),
        max_by(col("name"), ord(col("priority"))).as("name"),
        max_by(col("segment"),
          ord(col("segment").isNotNull.cast("long") * 10L + col("priority")))
          .as("segment"),
        max_by(col("acctbal"), ord(col("upd") * 10L + col("priority")))
          .as("acctbal"),
        max(col("upd")).as("last_updated"))
      .orderBy(col("match_key"))
  }

  /** Contingency-table independence profiling — Pearson residuals
    * for the (lang × source) cross-tab: residual = (O − E)/√E per
    * cell, the signed measure of which language/source combinations
    * are over/under-represented vs independence (|r| ≳ 2 flags a
    * cell). The per-cell breakdown is deliberately emitted INSTEAD of
    * the summed χ² statistic: a cross-row floating sum is summation-
    * order-dependent (not engine-stable), and the cells are what a
    * curation pipeline acts on anyway.
    *
    * Scale shape: one corpus shuffle (the cell counts); margins and
    * the total derive from the cell relation (cardinality = |langs|×
    * |sources| — metadata-sized), so every join after the first
    * aggregate is broadcast-sized. Expected/residual are single
    * fixed-shape double expressions of exact counts.
    */
  val q124Contingency = QueryDef(
    "q124_contingency",
    "lang x source contingency profiling: observed vs expected + Pearson residual per cell, one corpus shuffle",
    """WITH obs AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY lang, source),
      |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY lang),
      |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY source),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
      |SELECT obs.lang, obs.source, obs.o AS observed,
      |  round(CAST(rt.r AS DOUBLE) * ct.c / n.n, 4) AS expected,
      |  round((obs.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
      |        / sqrt(CAST(rt.r AS DOUBLE) * ct.c / n.n), 4) AS residual
      |FROM obs JOIN rt USING (lang) JOIN ct USING (source), n
      |ORDER BY obs.lang, obs.source""".stripMargin) { (s, d) =>
    val obs = graft.Reuse.query(
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o")))
    val rt = obs.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val ct = obs.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = obs.agg(sum(col("o")).as("n"))
    val e = col("r").cast("double") * col("c") / col("n")
    obs.join(broadcast(rt), "lang")
      .join(broadcast(ct), "source")
      .crossJoin(broadcast(n))
      .select(col("lang"), col("source"), col("o").as("observed"),
        round(e, 4).as("expected"),
        round((col("o") - e) / sqrt(e), 4).as("residual"))
      .orderBy(col("lang"), col("source"))
  }

  /** Event-sequence transition mining — the first-order Markov
    * matrix over per-user event streams: P(next event type | current)
    * with transition counts, the "what do users do after X" signal
    * (and the generative model behind next-event prediction
    * baselines and funnel hypothesis generation).
    *
    * Scale shape: ONE key shuffle (the per-user lead window — user_id
    * is high-cardinality, the natural parallel unit; same exchange
    * shape as q115's SCD build), then a transition-matrix aggregate
    * whose cardinality is |event types|² — metadata-sized. Row
    * probabilities are integer basis points off the cell relation.
    */
  val q125MarkovTransitions = QueryDef(
    "q125_markov_transitions",
    "event-sequence transition matrix: per-user lead window, |types|^2 aggregate, row-probability basis points",
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total FROM t GROUP BY from_type)
      |SELECT t.from_type, t.to_type, t.n AS n_transitions,
      |  CAST(floor(10000.0 * t.n / rt.total) AS BIGINT) AS prob_bp
      |FROM t JOIN rt USING (from_type)
      |ORDER BY t.from_type, t.to_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = graft.Reuse.query(
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n")))
    val rt = t.groupBy(col("from_type")).agg(sum(col("n")).as("total"))
    t.join(broadcast(rt), "from_type")
      .select(col("from_type"), col("to_type"), col("n").as("n_transitions"),
        floor(lit(10000.0) * col("n") / col("total")).cast("long").as("prob_bp"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Data-contract audit — the "expectations" validation every
    * production table carries (Great-Expectations/dbt-test style):
    * domain, range, positivity, and referential-integrity rules
    * evaluated to per-rule violation counts with a pass flag. A
    * pipeline gates promotion of a new snapshot on this table being
    * all-pass; the per-rule counts (not just a boolean) are what make
    * a failure diagnosable.
    *
    * Scale shape: all single-column rules for one table fold into ONE
    * conditional-aggregate scan (a 1-row relation unpivoted into rule
    * rows — the unpivot runs on metadata, not data); the referential
    * rule is one anti join on the key. Nothing shuffles more than the
    * FK check; rule NULLs count as unchecked in both engines (CASE /
    * `when` fall through identically).
    */
  val q126ContractAudit = QueryDef(
    "q126_contract_audit",
    "data-contract audit: range/domain/positivity/referential rules to per-rule violation counts, one scan per table + one anti join",
    """WITH li AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |  CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
      |  CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
      |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS v_rf
      |  FROM lineitem),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
      |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_tp,
      |  CAST(sum(CASE WHEN NOT (CAST(o_orderdate AS TIMESTAMP)
      |      BETWEEN TIMESTAMP '1992-01-01 00:00:00' AND TIMESTAMP '2002-12-31 23:59:59')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v_od
      |  FROM orders),
      |fk AS (SELECT (SELECT n FROM li) AS n, CAST(count(*) AS BIGINT) AS v
      |       FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey),
      |raw AS (
      |  SELECT 'lineitem' AS table_name, 'discount_domain' AS rule, n AS n_checked, v_disc AS n_violations FROM li
      |  UNION ALL SELECT 'lineitem', 'orderkey_references_orders', n, v FROM fk
      |  UNION ALL SELECT 'lineitem', 'price_positive', n, v_price FROM li
      |  UNION ALL SELECT 'lineitem', 'quantity_in_range', n, v_qty FROM li
      |  UNION ALL SELECT 'lineitem', 'returnflag_domain', n, v_rf FROM li
      |  UNION ALL SELECT 'orders', 'orderdate_in_range', n, v_od FROM o
      |  UNION ALL SELECT 'orders', 'status_domain', n, v_st FROM o
      |  UNION ALL SELECT 'orders', 'totalprice_positive', n, v_tp FROM o)
      |SELECT table_name, rule, n_checked, n_violations,
      |  n_violations = 0 AS pass
      |FROM raw
      |ORDER BY table_name, rule""".stripMargin) { (s, d) =>
    def viol(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val liAgg = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      viol(!col("l_quantity").between(1, 50)).as("v_qty"),
      viol(!(col("l_extendedprice") > 0)).as("v_price"),
      viol(!col("l_discount").between(0.0, 0.1)).as("v_disc"),
      viol(!col("l_returnflag").isin("A", "N", "R")).as("v_rf"))
    val oAgg = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      viol(!col("o_orderstatus").isin("O", "F", "P")).as("v_st"),
      viol(!(col("o_totalprice") > 0)).as("v_tp"),
      viol(!col("o_orderdate").cast("timestamp").between(
        lit("1992-01-01 00:00:00").cast("timestamp"),
        lit("2002-12-31 23:59:59").cast("timestamp"))).as("v_od"))
    val fk = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    // unpivot the 1-row aggregates into rule rows — metadata, not data
    def rules(agg: org.apache.spark.sql.DataFrame, table: String,
        rs: Seq[(String, String)]) =
      agg.select(explode(array(rs.map { case (rule, vc) =>
        struct(lit(table).as("table_name"), lit(rule).as("rule"),
          col("n").as("n_checked"), col(vc).as("n_violations"))
      }: _*)).as("r")).select(col("r.*"))
    val liRules = rules(liAgg, "lineitem", Seq(
      "discount_domain" -> "v_disc", "price_positive" -> "v_price",
      "quantity_in_range" -> "v_qty", "returnflag_domain" -> "v_rf"))
    val oRules = rules(oAgg, "orders", Seq(
      "orderdate_in_range" -> "v_od", "status_domain" -> "v_st",
      "totalprice_positive" -> "v_tp"))
    val fkRule = liAgg.select(col("n")).crossJoin(fk)
      .select(lit("lineitem").as("table_name"),
        lit("orderkey_references_orders").as("rule"),
        col("n").as("n_checked"), col("v").as("n_violations"))
    liRules.unionAll(oRules).unionAll(fkRule)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("table_name"), col("rule"))
  }

  /** Grouped trend regression — per-series ordinary least squares
    * (value vs time) in ONE partial-aggregable pass: the closed-form
    * slope/intercept from the five moment sums (n, Σx, Σy, Σxy, Σx²).
    * The drift detector behind "is this metric trending" alerts, per
    * event_type.
    *
    * Determinism: x is integer MINUTES from a fixed origin (≤ 5e4
    * here) and y integer CENTS, so every moment is an exact integer
    * sum — commutative across partitions — and xy ≤ 2.5e8 per row
    * keeps Σxy far from long overflow at any row count this corpus
    * reaches (at true 100 TB scale the same shape runs with
    * DECIMAL(38,0) sums). Slope/intercept are single fixed-shape
    * double expressions of the exact moments, rounded only at output.
    */
  val q135TrendRegression = QueryDef(
    "q135_trend_regression",
    "grouped OLS trend: per-type slope/intercept from exact integer moment sums, one aggregate pass",
    """WITH p AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 - 28401120 AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM p GROUP BY event_type)
      |SELECT event_type, n,
      |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope_cents_per_min,
      |  round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n, 4) AS intercept_cents
      |FROM m
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    // x origin: 2024-01-01 in epoch-minutes (28401120) keeps x small
    val p = Tables.events(s, d)
      .select(col("event_type"),
        (expr("unix_micros(ts) div 60000000") - 28401120L).as("x"),
        round(col("value") * 100).cast("long").as("y"))
    val m = p.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")) /
      (col("n").cast("double") * col("sxx") -
        col("sx").cast("double") * col("sx"))
    m.select(col("event_type"), col("n"),
      round(slope, 6).as("slope_cents_per_min"),
      round((col("sy").cast("double") - slope * col("sx")) / col("n"), 4)
        .as("intercept_cents"))
      .orderBy(col("event_type"))
  }

  /** Item–item cosine similarity from co-purchase counts — the
    * classical neighborhood recommender signal (`sim(u,v) =
    * co(u,v) / √(n_u·n_v)`), and the THIRD consumer of the memoized
    * [[pairSupport]] relation after q100 (triangles) and q116
    * (rules): the production shape where the co-occurrence edge list
    * is materialized once and every downstream graph/rule/recommender
    * job reads it — within this process the basket shuffle and pair
    * count are already paid, so this query is joins + scoring only.
    *
    * Determinism: counts exact ints; cosine is ONE double expression
    * of exact ints (q116's convention), ranking by the unrounded
    * value with a unique (u, v) tiebreak, rounded 4dp at output.
    */
  val q140ItemSimilarity = QueryDef(
    "q140_item_similarity",
    "item-item co-purchase cosine: third consumer of the memoized pair relation, top-50 by similarity",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pc AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY p),
      |pr AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS c
      |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |       GROUP BY a.p, b.p),
      |sc AS (SELECT u, v, c, pu.n_p AS n_u, pv.n_p AS n_v,
      |         CAST(c AS DOUBLE) / sqrt(CAST(pu.n_p AS DOUBLE) * pv.n_p) AS cos
      |       FROM pr JOIN pc pu ON pu.p = pr.u JOIN pc pv ON pv.p = pr.v
      |       WHERE c >= 2)
      |SELECT u, v, c AS co_count, n_u, n_v, round(cos, 4) AS cosine
      |FROM (SELECT * FROM sc ORDER BY cos DESC, u, v LIMIT 50)
      |ORDER BY cosine DESC, u, v""".stripMargin) { (s, d) =>
    val pr = pairSupport(s, d)
    val pc = orderBaskets(s, d).select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    pr
      .join(pc.select(col("p").as("u"), col("n_p").as("n_u")), "u")
      .join(pc.select(col("p").as("v"), col("n_p").as("n_v")), "v")
      .withColumn("cos",
        col("c").cast("double") / sqrt(col("n_u").cast("double") * col("n_v")))
      .orderBy(col("cos").desc, col("u"), col("v"))
      .limit(50)
      .select(col("u"), col("v"), col("c").as("co_count"),
        col("n_u"), col("n_v"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("u"), col("v"))
  }

  /** Ordered first-occurrence pattern mining — which event type tends
    * to FIRST APPEAR before which other (q125's Markov matrix counts
    * adjacent transitions; this counts journey-level precedence, the
    * funnel-discovery signal). Per user, one min(ts) per type (ONE
    * high-cardinality key shuffle); the precedence pairs come from a
    * per-user self-join bounded by the 5-value type enum — ≤ 25 rows
    * per user, map-side after the equi key matches — then a
    * metadata-sized (first, then) count.
    *
    * Determinism: simultaneous first occurrences (equal min ts) order
    * by type name — a documented fixed tie resolution, identical in
    * the oracle. Support fractions are integer basis points.
    */
  val q142SeqPatterns = QueryDef(
    "q142_seq_patterns",
    "first-occurrence precedence mining: per-user min-ts per type, bounded pair self-join, support in bp",
    """WITH f AS (SELECT user_id, event_type, min(CAST(ts AS TIMESTAMP)) AS ft
      |           FROM events GROUP BY user_id, event_type),
      |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
      |pr AS (SELECT a.event_type AS first_type, b.event_type AS then_type,
      |              CAST(count(*) AS BIGINT) AS support
      |       FROM f a JOIN f b ON a.user_id = b.user_id
      |         AND (a.ft < b.ft OR (a.ft = b.ft AND a.event_type < b.event_type))
      |       GROUP BY 1, 2)
      |SELECT first_type, then_type, support, (10000 * support) // n_users AS user_frac_bp
      |FROM pr, u
      |ORDER BY first_type, then_type""".stripMargin) { (s, d) =>
    val f = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type")).agg(min(col("ts")).as("ft"))
    val a = f.select(col("user_id"), col("event_type").as("first_type"),
      col("ft").as("fta"))
    val b = f.select(col("user_id"), col("event_type").as("then_type"),
      col("ft").as("ftb"))
    val nUsers = Tables.events(s, d)
      .agg(count_distinct(col("user_id")).as("n_users"))
    a.join(b, Seq("user_id"))
      .filter(col("fta") < col("ftb") ||
        (col("fta") === col("ftb") && col("first_type") < col("then_type")))
      .groupBy(col("first_type"), col("then_type"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nUsers))
      .select(col("first_type"), col("then_type"), col("support"),
        expr("(10000 * support) div n_users").as("user_frac_bp"))
      .orderBy(col("first_type"), col("then_type"))
  }

  /** Time-decayed popularity — recency-weighted item demand
    * (`Σ 2^(−age/half_life)` per part, half-life 365 days), the
    * trending-items signal that a plain count can't give. Ages are
    * exact integer DAYS from a fixed reference date; each row's decay
    * weight is ONE fixed-shape `⌊10⁶·2^(−age/365)⌋` expression
    * (q121's fixed-point-transcendental idiom: the floor happens
    * per row, so only INTEGER micros cross the exchange and the sum
    * is commutative and engine-exact). One partial-aggregable key
    * shuffle; top-20 by (score, key) via TakeOrdered.
    */
  val q149DecayedPopularity = QueryDef(
    "q149_decayed_popularity",
    "exponential time-decayed part popularity: per-row integer decay micros, one aggregate pass, top-20",
    """WITH a AS (
      |  SELECT l_partkey AS part,
      |    greatest(0, (epoch_us(TIMESTAMP '2002-01-01 00:00:00') - epoch_us(CAST(l_shipdate AS TIMESTAMP))) // 86400000000) AS age_days
      |  FROM lineitem),
      |wgt AS (SELECT part,
      |    CAST(floor(1000000.0 * pow(2.0, -CAST(age_days AS DOUBLE) / 365.0)) AS BIGINT) AS w_micro
      |  FROM a),
      |sc AS (SELECT part, CAST(count(*) AS BIGINT) AS n_sales,
      |              CAST(sum(w_micro) AS BIGINT) AS decayed_micro
      |       FROM wgt GROUP BY part)
      |SELECT part, n_sales, decayed_micro
      |FROM sc
      |ORDER BY decayed_micro DESC, part
      |LIMIT 20""".stripMargin) { (s, d) =>
    // greatest(0, ·): rows shipped AFTER the fixed reference date clamp
    // to age 0 (weight 1) instead of extrapolating >1 weights — and a
    // negative numerator would be the one place Spark's truncating
    // `div` and DuckDB's flooring `//` disagree
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("part"),
        expr("greatest(0L, (1009843200000000 - unix_micros(cast(l_shipdate as timestamp))) div 86400000000)")
          .as("age_days"))
      .select(col("part"),
        floor(lit(1000000.0) *
          pow(lit(2.0), -col("age_days").cast("double") / 365.0))
          .cast("long").as("w_micro"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_sales"), sum(col("w_micro")).as("decayed_micro"))
      .orderBy(col("decayed_micro").desc, col("part"))
      .limit(20)
  }

  /** Next-event prediction eval — the held-out accuracy check behind
    * q125's transition matrix: fit the majority-next-event predictor
    * (argmax of the transition counts, ties to the lexicographically
    * smaller type) on EVEN-user_id sequences, then score every odd-
    * user transition: did the predictor name the event that actually
    * came next? This is the train/test discipline of a sequence-model
    * baseline (the "most-frequent-next" baseline every session-
    * recommendation paper reports) run entirely in-engine.
    *
    * Exactness: counts and hits are integers; hit rate is the floored
    * basis-point ratio (the q125 convention); the argmax tiebreak is
    * deterministic, so the whole eval is hash-gated.
    *
    * Scale shape: one per-user lead window on (ts, event_id) — the
    * q125 shape, user_id is high-cardinality so every task stays busy
    * — into a |types|²-bounded model aggregate; the eval is the test
    * transition stream through one broadcast model join + one
    * |types|-row final aggregate.
    */
  val q205NextEventEval = QueryDef(
    "q205_next_event_eval",
    "held-out next-event accuracy: majority-transition predictor fit on even users, per-type hit rate on odd users",
    """WITH seq AS (
      |  SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |tr AS (SELECT * FROM seq WHERE to_type IS NOT NULL),
      |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM tr WHERE user_id % 2 = 0 GROUP BY from_type, to_type),
      |pred AS (SELECT from_type, to_type AS pred_type FROM (
      |           SELECT from_type, to_type,
      |             row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type) AS rn
      |           FROM t) WHERE rn = 1)
      |SELECT tr.from_type, any_value(p.pred_type) AS pred_type,
      |  CAST(count(*) AS BIGINT) AS n_eval,
      |  CAST(sum(CASE WHEN tr.to_type = p.pred_type THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      |  CAST(floor(10000.0 * sum(CASE WHEN tr.to_type = p.pred_type THEN 1 ELSE 0 END) / count(*)) AS BIGINT) AS hit_bp
      |FROM tr JOIN pred p ON p.from_type = tr.from_type
      |WHERE tr.user_id % 2 = 1
      |GROUP BY tr.from_type
      |ORDER BY tr.from_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = graft.Reuse.query(
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("user_id"), col("from_type"), col("to_type")))
    val t = tr.filter(col("user_id") % 2 === 0)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    // argmax with (n desc, to_type asc): the q199 inverted min_by key
    val pred = t.groupBy(col("from_type"))
      .agg(min_by(col("to_type"), struct((-col("n")).as("nn"), col("to_type")))
        .as("pred_type"))
    tr.filter(col("user_id") % 2 === 1)
      .join(broadcast(pred), "from_type")
      .groupBy(col("from_type"))
      .agg(first(col("pred_type")).as("pred_type"),
        count(lit(1)).as("n_eval"),
        sum(when(col("to_type") === col("pred_type"), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("from_type"), col("pred_type"), col("n_eval"), col("n_hit"),
        floor(lit(10000.0) * col("n_hit") / col("n_eval")).cast("long")
          .as("hit_bp"))
      .orderBy(col("from_type"))
  }

  /** The fixed FD candidate list (schema metadata, bounded by
    * #columns², not data): true FDs (keys determine everything), their
    * reverse directions, and plausible-but-false pairs, so the
    * discovery demonstrates discrimination.
    */
  private[graft] val fdCandidates: Seq[(String, String, String)] = Seq(
    ("nation", "n_nationkey", "n_regionkey"),
    ("nation", "n_regionkey", "n_nationkey"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"))

  /** Sketch phase of q216: one `approx_count_distinct` (rsd 0.03) scan
    * PER TABLE covering all of that table's candidates — the agg is
    * partial/merge (only ~KB HLL registers cross the exchange; no row
    * ever shuffles) — returning the candidates whose estimated
    * strength clears `survBp` basis points. The five per-table aggs
    * submit from concurrent driver threads so the phase costs
    * max(table), not Σ(table) — sequential submission measured ~2.5 s
    * of driver round-trips at sf0.1, and a single 5-way union plan was
    * no better because AQE re-plans each branch's stage serially. The
    * driver-side result is bounded by #candidates (10 estimate pairs),
    * never by data. HLL++ estimates are
    * deterministic for fixed data (register sets are order-invariant),
    * so the survivor set — and therefore the exact phase's plan — is
    * reproducible run to run.
    */
  /** Exact-confirm budget for q216 (estimated DISTINCT (A,B) pairs a
    * single candidate may push through the exact phase's distinct
    * exchange): conf `spark.graft.fd.maxExactPairs`, default 2²⁴
    * (~16.7M — the point where one profiling candidate's distinct
    * state stops being a trivially-absorbed exchange and starts
    * competing with the pipelines the profiler is meant to serve).
    * Candidates whose SKETCHED pair cardinality exceeds the budget
    * are never exact-confirmed: they stay sketch-graded
    * ([[fdSketchEstimates]]) and are excluded from the emitted exact
    * report — the 100 TB sketch-first rule as CODE (`FdCapSpec`
    * pins the drop and the absence of the distinct exchange). Every
    * test corpus sits orders of magnitude below the default, so the
    * DuckDB twin — which always confirms exactly — stays
    * value-identical at the driver gate.
    */
  val FdMaxExactPairsConf = "spark.graft.fd.maxExactPairs"
  val FdMaxExactPairsDefault: Long = 1L << 24

  /** Sketch-survivorship bar in basis points — the q216 sketch
    * PREFILTER rule as a conf, the way [[FdMaxExactPairsConf]] is
    * (round-17 verdict task 8): `spark.graft.fd.sketchSurvBp`,
    * default 6000. Candidates whose sketched strength estimates
    * below the bar are refuted without ever entering a distinct
    * exchange; the bar sits a guard band below the 9000 bp
    * deliverable threshold sized for the rsd-0.03 HLL (a true
    * ≥9000 bp candidate needs two ~6.7σ opposite-direction errors to
    * be mis-refuted — the documented probabilistic residual). Raise
    * it on clusters where sketch scans themselves are the cost
    * driver (more refusals, more risk); lower toward 0 to force
    * exact confirmation of everything (the profiler-correctness
    * extreme). Shared by [[fdSketchSurvivors]]'s default and q216's
    * inline budget filter so the two refute paths cannot silently
    * drift apart.
    */
  val FdSketchSurvBpConf = "spark.graft.fd.sketchSurvBp"
  val FdSurvBpDefault: Long = 6000L

  private def fdMaxExactPairs(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption(FdMaxExactPairsConf).map(_.toLong)
      .getOrElse(FdMaxExactPairsDefault)

  private[graft] def fdSketchSurvBp(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption(FdSketchSurvBpConf).map(_.toLong)
      .getOrElse(FdSurvBpDefault)

  /** Sketch estimates for every candidate: (candidate, (|A|_est,
    * |(A,B)|_est)). See [[fdSketchSurvivors]] for the scan shape.
    */
  private[graft] def fdSketchEstimates(
      s: org.apache.spark.sql.SparkSession, d: String)
      : Seq[((String, String, String), (Long, Long))] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    // one driver thread per table: each sketch agg is its own small
    // Spark job, so AQE's per-stage driver re-planning (~0.2 s a
    // stage, which serialized a single union plan into ~4 s of wall)
    // is paid concurrently and the phase costs max(table), not Σ
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perTable = fdCandidates.groupBy(_._1).toSeq.map { case (t, cands) =>
      Future {
        val aggs = cands.zipWithIndex.flatMap { case ((_, a, b), i) =>
          Seq(approx_count_distinct(xxhash64(col(a)), 0.03).as(s"l$i"),
            approx_count_distinct(xxhash64(col(a), col(b)), 0.03).as(s"p$i"))
        }
        // NOTE (round 18, measured): widening this scan with a
        // round-robin repartition before the HLL aggregates REGRESSED
        // it ~1.3× (busy 4.2 → 11.9 s) — the sort-before-repartition
        // of the full projection plus 32× HLL buffer sets cost more
        // than the serial scan saved; the sketch-sized exchange of
        // the unwidened shape is already minimal. Left as-is.
        val row = Tables.load(s, d, t).agg(aggs.head, aggs.tail: _*).head()
        cands.zipWithIndex.map { case ((_, a, b), i) =>
          (s"$t.$a->$b", row.getLong(2 * i), row.getLong(2 * i + 1))
        }
      }
    }
    val est = Await.result(Future.sequence(perTable), Duration.Inf)
      .flatten.map { case (fd, l, p) => fd -> ((l, p)) }.toMap
    fdCandidates.map(c => c -> est(s"${c._1}.${c._2}->${c._3}"))
  }

  private[graft] def fdSketchSurvivors(
      s: org.apache.spark.sql.SparkSession, d: String,
      survBp: Long = FdSurvBpDefault): Seq[(String, String, String)] =
    fdSketchEstimates(s, d).collect {
      case (c, (l, p)) if 10000L * l >= survBp * p => c
    }

  /** Functional-dependency discovery — the IN-table profiling twin of
    * q119's cross-table FK containment: A→B holds iff every A value
    * maps to exactly one B value, i.e. |distinct A| = |distinct
    * (A,B)|. The deliverable is the STRONG dependencies: candidates
    * whose exact strength (10000·n_lhs div n_pairs; 10000 = an exact
    * FD) clears 9000 bp, each emitted with its exact counts — the
    * schema-inference signal behind normalization advice and
    * dirty-data detection.
    *
    * Scale shape — the 100 TB rule this query exists to demonstrate
    * (sketch-refute before exact-confirm, the q112 GK/HLL discipline):
    * exact |distinct| costs a full key shuffle of every projected row,
    * so NO candidate pays it until a cheap sketch has failed to refute
    * it. Phase 1 estimates every candidate's strength with one
    * `approx_count_distinct` scan per table ([[fdSketchSurvivors]] —
    * partial-merged HLL registers, zero row shuffle); candidates
    * estimating below 6000 bp are refuted outright. The bar sits a
    * wide guard band below the 9000 bp deliverable threshold: at
    * rsd 0.03, a TRUE ≥9000 bp candidate estimates below 6000 only if
    * both HLL estimates err ~6.7σ in opposite directions
    * (9000·(1−δ)/(1+δ) < 6000 needs δ ≈ 0.2 = 6.7·rsd) — HLL tails
    * are not Gaussian-bounded, so this is a documented probabilistic
    * residual, not a hard guarantee, but estimates in the plausible
    * 3–5σ near-miss band [6000, 7513) are exact-rechecked rather than
    * refuted (advisor find, round 12; on this candidate list the band
    * is empty — the strongest false candidate sits at 4449 bp, so the
    * widened bar pulls nothing extra into the exact phase). The
    * sketch is never in the emitted numbers — survivors are
    * re-confirmed EXACTLY, so a borderline survivor that isn't
    * actually ≥9000 bp is dropped by the final filter, not
    * mis-reported. Phase 2 runs the q119-style
    * stacked evaluation on survivors only: ONE persisted distinct
    * relation of (pair, lhs, rhs) — values stack as xxhash64 keys, not
    * string casts (string keys measured 8.2× on the 10× ladder; hashed
    * longs ~2×) — then two metadata-sized counts. On this candidate
    * list the sketch refutes both lineitem pairs, so the biggest
    * table's rows never enter a distinct exchange at all.
    */
  val q216FdDiscovery: QueryDef = {
    val oracle = fdCandidates.map { case (t, a, b) =>
      s"""SELECT '$t.$a->$b' AS fd,
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $a FROM $t)) AS BIGINT) AS n_lhs,
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $a, $b FROM $t)) AS BIGINT) AS n_pairs""".stripMargin
    }.mkString("WITH raw AS (\n", "\nUNION ALL\n", ")") +
      """
        |SELECT fd, n_lhs, n_pairs, n_lhs = n_pairs AS holds,
        |  CAST((10000 * n_lhs) // n_pairs AS BIGINT) AS fd_bp
        |FROM raw
        |WHERE (10000 * n_lhs) // n_pairs >= 9000
        |ORDER BY fd""".stripMargin
    QueryDef(
      "q216_fd_discovery",
      "strong-FD discovery: HLL sketch refutes candidates cheaply, exact |distinct A| vs |distinct (A,B)| confirms survivors only",
      oracle) { (s, d) =>
      // sketch-first, twice over: the sketch refutes weak candidates,
      // and the exact-confirm budget ([[FdMaxExactPairsConf]]) keeps
      // any surviving candidate whose estimated distinct-pair volume
      // exceeds the budget OUT of the exact distinct exchange — at
      // 100 TB that candidate stays sketch-graded instead of owning
      // the cluster's shuffle
      val budget = fdMaxExactPairs(s)
      val survBp = fdSketchSurvBp(s)
      val survivors = fdSketchEstimates(s, d).collect {
        case (c, (l, p)) if 10000L * l >= survBp * p && p <= budget => c
      }
      val out = if (survivors.isEmpty) {
        s.range(0).select(lit("").as("fd"), lit(0L).as("n_lhs"),
          lit(0L).as("n_pairs"), lit(false).as("holds"), lit(0L).as("fd_bp"))
      } else {
        val stacked = graft.Reuse.query(
          survivors.map { case (t, a, b) =>
            Tables.load(s, d, t).select(lit(s"$t.$a->$b").as("fd"),
              xxhash64(col(a)).as("lv"), xxhash64(col(b)).as("rv"))
          }.reduceLeft(_ unionAll _).distinct())
        val nPairs = stacked.groupBy(col("fd")).agg(count(lit(1)).as("n_pairs"))
        val nLhs = stacked.select(col("fd"), col("lv")).distinct()
          .groupBy(col("fd")).agg(count(lit(1)).as("n_lhs"))
        nLhs.join(nPairs, "fd")
          .select(col("fd"), col("n_lhs"), col("n_pairs"),
            (col("n_lhs") === col("n_pairs")).as("holds"),
            expr("(10000 * n_lhs) div n_pairs").as("fd_bp"))
      }
      out.filter(col("fd_bp") >= 9000L).orderBy(col("fd"))
    }
  }

  /** k-anonymity / l-diversity audit — the privacy profiling pass a
    * dataset release runs before publishing quasi-identifiable rows
    * (Sweeney 2002; Machanavajjhala et al. 2007): group by the
    * quasi-identifier tuple (nation, market segment — the columns an
    * adversary can link from outside), measure each equivalence
    * class's size (k-anonymity: a class of size < k re-identifies its
    * members) and the diversity of the sensitive attribute within it
    * (l-diversity: a k-large class whose sensitive values are all
    * EQUAL still leaks — here the account-balance band,
    * ⌊bal/1000⌋). Emits every class with both measures and the
    * pass/fail flags at k=5, l=3.
    *
    * Exactness: the sensitive band is one IEEE double floor-divide
    * (identical both engines); everything else is integer counts.
    * Scale shape: ONE partial-aggregable groupBy on the QI tuple —
    * count + count(distinct band) — bounded by the QI cardinality
    * (#nations × #segments), never by data.
    */
  val q230KAnonymity = QueryDef(
    "q230_k_anonymity",
    "k-anonymity + l-diversity audit: per-QI-class size and sensitive-band diversity with k=5 / l=3 flags",
    """SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
      |  CAST(count(*) AS BIGINT) AS class_size,
      |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS n_bands,
      |  count(*) >= 5 AS k_anonymous,
      |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3 AS l_diverse
      |FROM customer
      |GROUP BY c_nationkey, c_mktsegment
      |ORDER BY nationkey, segment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
      .groupBy(col("nationkey"), col("segment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("band")).as("n_bands"))
      .select(col("nationkey"), col("segment"), col("class_size"),
        col("n_bands"),
        (col("class_size") >= 5L).as("k_anonymous"),
        (col("n_bands") >= 3L).as("l_diverse"))
      .orderBy(col("nationkey"), col("segment"))
  }

  val all: Seq[QueryDef] =
    Seq(q116AssociationRules, q119FkDiscovery, q120GoldenRecord,
      q124Contingency, q125MarkovTransitions, q126ContractAudit,
      q135TrendRegression, q140ItemSimilarity, q142SeqPatterns,
      q149DecayedPopularity, q205NextEventEval, q216FdDiscovery,
      q230KAnonymity)
}
