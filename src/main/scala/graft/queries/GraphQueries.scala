package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Distributed graph analytics beyond propagation (the
  * [[graft.api.ConnectedComponents]] / [[graft.api.PageRank]] family):
  * triangle counting over a co-occurrence graph.
  */
object GraphQueries {

  /** Per-vertex triangle counts over the part co-purchase AFFINITY
    * graph: parts are adjacent iff they appear together in at least
    * TWO orders (the standard market-basket support threshold —
    * single co-occurrence in uniform baskets is noise, and without
    * the threshold the graph's average degree grows with corpus size
    * until the exact wedge stage dominates any engine; TPC-H orders
    * hold ≤ 7 lines, so the per-order pair expansion itself is
    * bounded by the data model).
    *
    * The Spark side uses DEGREE ORIENTATION — each undirected edge is
    * directed from its lower-degree endpoint (ties by id) and wedges
    * are enumerated from edge sources only — which bounds the wedge
    * stage by O(|E|^1.5) regardless of skew (a hub of degree d costs
    * d² wedges unoriented but only out-degree ≤ √|E| squared
    * oriented). Every step is an equi-join or hash aggregate:
    * support-counted edges (one shuffle), degree join, source-keyed
    * wedge self-join, closing-edge equi join, vertex-explode count —
    * no cartesian, no window, no driver loop; each undirected
    * triangle is found exactly once, then credited to its three
    * vertices.
    *
    * The oracle closes triangles directly with the textbook three-way
    * self-join on the u<v edge list — same triangle set, no
    * orientation needed at DuckDB's scale.
    */
  val q100Triangles = QueryDef(
    "q100_triangles",
    "per-vertex triangle counts on the part co-purchase graph (support ≥ 2), degree-oriented wedge join",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT u, v FROM (
      |        SELECT a.p AS u, b.p AS v, count(*) AS c
      |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |        GROUP BY a.p, b.p)
      |      WHERE c >= 2),
      |tri AS (SELECT ab.u AS x, ab.v AS y, bc.v AS z
      |        FROM e ab
      |        JOIN e bc ON bc.u = ab.v
      |        JOIN e ca ON ca.u = ab.u AND ca.v = bc.v)
      |SELECT vertex, CAST(count(*) AS BIGINT) AS n_tri
      |FROM (SELECT unnest([x, y, z]) AS vertex FROM tri)
      |GROUP BY vertex
      |ORDER BY vertex""".stripMargin) { (s, d) =>
    // The support-counted edge set is the SHARED co-purchase relation
    // (MiningQueries.pairSupport — map-side basket pair expansion,
    // memoized + checkpointed, also consumed by q116's rule mining):
    // the basket shuffle and pair count are paid once per session,
    // and the checkpointed edge list feeds the orientation branch and
    // the closing-edge join below without recomputation.
    val e = MiningQueries.pairSupport(s, d).select(col("u"), col("v"))
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // orient: lower-degree endpoint → higher (ties by vertex id)
    val oriented = e
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    // wedges from each source; close with the undirected u<v edge set
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("w"), col("e1.dst").as("a"), col("e2.dst").as("b"))
    val tri = wedges.join(e, col("a") === col("u") && col("b") === col("v"))
      .select(col("w"), col("a"), col("b"))
    tri.select(explode(array(col("w"), col("a"), col("b"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("vertex"))
  }

  /** Hierarchy flattening by POINTER DOUBLING — the scalable answer
    * to "resolve every node's root and depth" (BOM explosion, org
    * charts, category trees): each round composes ancestor jumps
    * (2^k → 2^(k+1)), so a depth-D hierarchy resolves in ⌈log₂ D⌉
    * keyed self-joins instead of D sequential parent-walk rounds —
    * the difference between 8 and 200 shuffles on a deep tree. Roots
    * self-loop with distance 0, so converged rows are fixpoints and
    * extra rounds are no-ops. The hierarchy is synthetic (parent =
    * key − 100, forest of 100 chains) so the DuckDB WITH RECURSIVE
    * twin replays the exact walk.
    *
    * Scale shape: every round is one equi join of a node-table-sized
    * relation, checkpointed by [[graft.api.Supersteps]]; each row
    * carries whether its ancestor is already a root (a joined row
    * hands its flag on with its ancestor), and the loop stops on the
    * first round with no unresolved row — ⌈log₂ depth⌉ rounds, read
    * off the checkpoint job itself. Nothing collects; lineage stays
    * O(1).
    */
  val q131HierarchyFlatten = QueryDef(
    "q131_hierarchy_flatten",
    "hierarchy flattening: root + depth per node via pointer doubling, log(depth) keyed self-joins",
    """WITH RECURSIVE walk AS (
      |  SELECT p_partkey AS node, p_partkey AS cur, 0 AS d FROM part
      |  UNION ALL
      |  SELECT node, cur - 100, d + 1 FROM walk WHERE cur >= 100)
      |SELECT node AS p_partkey, CAST(cur AS BIGINT) AS root,
      |  CAST(d AS BIGINT) AS depth
      |FROM walk WHERE cur < 100
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val init = Tables.load(s, d, "part").select(col("p_partkey").as("node"))
      .select(col("node"),
        when(col("node") >= 100, col("node") - 100).otherwise(col("node"))
          .as("anc"),
        when(col("node") >= 100, 1L).otherwise(0L).as("dist"))
      // resolved: the ancestor is a root (a key below 100)
      .withColumn("resolved", col("anc") < 100)
    // 63 doubling rounds span any depth a BIGINT key can have
    val anc = graft.api.Supersteps.run("q131", init, 63) { (st, _) =>
      val next = st.alias("a")
        .join(st.alias("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"),
          (col("a.dist") + col("b.dist")).as("dist"),
          col("b.resolved").as("resolved"))
      (next, !col("resolved"))
    }.state
    anc.select(col("node").as("p_partkey"), col("anc").as("root"),
      col("dist").as("depth"))
      .orderBy(col("p_partkey"))
  }

  /** Multi-source k-hop reachability (bounded BFS) — exact shortest
    * hop distance (≤ 3) from a deterministic seed set over the
    * co-purchase graph: the "related products within N hops"
    * recommender expansion, and the FOURTH consumer of the memoized
    * [[MiningQueries.pairSupport]] edge list (after q100, q116,
    * q140) — the materialize-the-edges-once production shape.
    *
    * Scale shape: classic frontier expansion — each of the 3 rounds
    * is ONE keyed equi join (distance relation ⋈ edges) followed by a
    * partial-aggregable min-distance reduce, so a round's cost is
    * bounded by |frontier|·avg-degree, never |V|²; the support ≥ 2
    * threshold keeps average degree bounded as the corpus grows (the
    * q100 argument). Unlike q131's pointer doubling (which needs the
    * jump table of a FUNCTIONAL graph — each node one parent), BFS on
    * a general graph must expand frontiers; the hop cap makes the
    * round count fixed and the lazy 3-round plan shallow.
    *
    * Determinism: distances are exact integer minima; the seed rule
    * (part key ≡ 0 mod 500, present in the graph) is replayed
    * verbatim by the oracle's bounded WITH RECURSIVE walk.
    */
  val q144KhopReachability = QueryDef(
    "q144_khop_reachability",
    "multi-source 3-hop BFS over co-purchase edges: per-round join + min-distance reduce, exact hop distances",
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pr AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS c
      |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |       GROUP BY a.p, b.p),
      |e AS (SELECT u, v FROM pr WHERE c >= 2
      |      UNION ALL SELECT v, u FROM pr WHERE c >= 2),
      |seeds AS (SELECT DISTINCT u AS p FROM e WHERE u % 500 = 0),
      |walk AS (
      |  SELECT p, 0 AS d FROM seeds
      |  UNION
      |  SELECT e.v, w.d + 1 FROM walk w JOIN e ON e.u = w.p WHERE w.d < 3)
      |SELECT p AS part_id, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY p
      |ORDER BY part_id""".stripMargin) { (s, d) =>
    val pr = MiningQueries.pairSupport(s, d)
    val edges = pr.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(pr.select(col("v").as("src"), col("u").as("dst")))
    val seeds = edges.select(col("src").as("p"))
      .filter(col("p") % 500 === 0).distinct()
    var dist = seeds.select(col("p"), lit(0L).as("dist"))
    for (_ <- 1 to 3) {
      val nxt = dist.join(edges, col("p") === col("src"))
        .select(col("dst").as("p"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(nxt)
        .groupBy(col("p")).agg(min(col("dist")).as("dist"))
    }
    dist.select(col("p").as("part_id"), col("dist")).orderBy(col("part_id"))
  }

  /** Community detection by synchronous label propagation (LPA) over
    * the part co-purchase affinity graph — the cheap communities pass
    * between q78's connected components (too coarse: one bridge edge
    * merges everything) and modularity methods (too expensive at
    * scale): each round every node adopts its neighbors' MAJORITY
    * label. The classic algorithm breaks ties randomly; this is the
    * DETERMINISTIC variant (ties → smallest label, fixed 4 synchronous
    * rounds) so the orbit is engine-replayable — the q89/q188
    * fixed-iteration contract. 4 rounds bound label travel to the
    * 4-hop neighborhood: enough to coalesce the dense co-purchase
    * clusters this graph has, while an oscillation (the known
    * synchronous-LPA bipartite artifact) just freezes at round 4
    * identically in both engines. The loop stops early only when a
    * round changes no label: every later round would repeat it, so the
    * output is the 4-round one.
    *
    * Scale shape: edges are the memoized support ≥ 2 relation
    * (`MiningQueries.pairSupport`, shared with q100/q116); each round
    * is ONE join (labels ⋈ edges on the destination) + a two-level
    * partial-aggregable argmax — count per (node, label), then
    * `max_by(lbl, (count, −lbl))` — never a per-node window. Isolated
    * nodes ride a left join + coalesce, keeping their own label. Per
    * round one shuffle of the edge relation: 4 rounds ≈ 4 PageRank
    * iterations, the same cost envelope as q96.
    *
    * Oracle: 4 unrolled MATERIALIZED CTE rounds (the q39 Lloyd
    * convention — and the materialization is what keeps DuckDB from
    * exponentially re-inlining the round chain).
    */
  val q192LabelPropagation = QueryDef(
    "q192_label_propagation",
    "deterministic synchronous LPA communities (4 rounds, ties to min label) on the co-purchase graph",
    """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ed AS MATERIALIZED (SELECT u, v FROM (
      |        SELECT a.p AS u, b.p AS v, count(*) AS c
      |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |        GROUP BY a.p, b.p)
      |      WHERE c >= 2),
      |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
      |                    UNION ALL SELECT v, u FROM ed),
      |n AS MATERIALIZED (SELECT DISTINCT p AS node FROM li),
      |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM n),
      |l1 AS MATERIALIZED (SELECT p.node, coalesce(m.lbl, p.lbl) AS lbl FROM l0 p
      |  LEFT JOIN (SELECT src AS node, lbl FROM (
      |    SELECT e.src, pl.lbl,
      |      row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, pl.lbl) AS rn
      |    FROM e2 e JOIN l0 pl ON pl.node = e.dst
      |    GROUP BY e.src, pl.lbl) WHERE rn = 1) m ON m.node = p.node),
      |l2 AS MATERIALIZED (SELECT p.node, coalesce(m.lbl, p.lbl) AS lbl FROM l1 p
      |  LEFT JOIN (SELECT src AS node, lbl FROM (
      |    SELECT e.src, pl.lbl,
      |      row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, pl.lbl) AS rn
      |    FROM e2 e JOIN l1 pl ON pl.node = e.dst
      |    GROUP BY e.src, pl.lbl) WHERE rn = 1) m ON m.node = p.node),
      |l3 AS MATERIALIZED (SELECT p.node, coalesce(m.lbl, p.lbl) AS lbl FROM l2 p
      |  LEFT JOIN (SELECT src AS node, lbl FROM (
      |    SELECT e.src, pl.lbl,
      |      row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, pl.lbl) AS rn
      |    FROM e2 e JOIN l2 pl ON pl.node = e.dst
      |    GROUP BY e.src, pl.lbl) WHERE rn = 1) m ON m.node = p.node),
      |l4 AS MATERIALIZED (SELECT p.node, coalesce(m.lbl, p.lbl) AS lbl FROM l3 p
      |  LEFT JOIN (SELECT src AS node, lbl FROM (
      |    SELECT e.src, pl.lbl,
      |      row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, pl.lbl) AS rn
      |    FROM e2 e JOIN l3 pl ON pl.node = e.dst
      |    GROUP BY e.src, pl.lbl) WHERE rn = 1) m ON m.node = p.node),
      |cs AS MATERIALIZED (SELECT lbl, CAST(count(*) AS BIGINT) AS csize
      |                    FROM l4 GROUP BY lbl)
      |SELECT l4.node, l4.lbl AS community, cs.csize
      |FROM l4 JOIN cs ON cs.lbl = l4.lbl
      |ORDER BY l4.node""".stripMargin) { (s, d) =>
    // the label relation is consumed twice per round (majority join +
    // isolated-node fallback) and again by the sizes join, so every
    // round is checkpointed; a round that changes no label ends the
    // loop early, since every later round would repeat it. (No
    // re-checkpoint on e2: pairSupport is already a memoized
    // localCheckpoint, so the symmetrized view is two cheap scans of
    // it; and the label relation broadcasts — ~|nodes| rows — so the
    // per-round join moves no edge bytes; the one real per-round
    // exchange is the (src,lbl) majority count.)
    val ed = MiningQueries.pairSupport(s, d).select(col("u"), col("v"))
    val e2 = ed.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(ed.select(col("v").as("src"), col("u").as("dst")))
    val init = Tables.lineitem(s, d)
      .select(col("l_partkey").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val communities = graft.api.Supersteps.run("q192", init, 4) { (labels, _) =>
      val maj = e2.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
          .as("mlbl"))
        .withColumnRenamed("src", "node")
      val next = labels.join(maj, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("mlbl"), col("lbl")).as("lbl"),
          (col("mlbl") =!= col("lbl")).as("changed"))
      (next, col("changed"))
    }.state
    val sizes = communities.groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
    communities.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("csize"))
      .orderBy(col("node"))
  }

  /** k-core onion decomposition (k = 2, 6 synchronous peel rounds)
    * over the part co-purchase affinity graph — the degeneracy
    * layering that separates tree-like fringe (peeled early) from the
    * densely-knit core (never peeled): each round simultaneously
    * removes every node whose degree within the SURVIVING subgraph is
    * below k, the classic distributed k-core algorithm (Montresor et
    * al. 2013's peel-in-rounds shape). 6 rounds converge to the true
    * 2-core at both tested scale factors (fixpoint after 3 rounds at
    * sf0.01, 5 at sf0.1 — measured); the FIXED round count keeps the
    * orbit engine-replayable even on a pathological chain where 6
    * wouldn't converge (the q192 fixed-iteration contract: both
    * engines freeze identically). A round that peels nothing ends the
    * loop early — every later round would peel nothing too — so the
    * output is the 6-round one.
    *
    * Output: every graph node with its peel round (1–6) or 0 for core
    * survivors — the "onion layer" a curation pipeline uses to rank
    * how structurally embedded an item is.
    *
    * Scale shape: edges are the memoized support ≥ 2 relation
    * (`MiningQueries.pairSupport`, the q100/q116/q144/q192 share);
    * each round is one alive⋈edges⋈alive degree count (two semi-join-
    * shaped equi joins + a partial-aggregable count, never a window)
    * that stamps the round on each newly peeled node of one
    * node-table-sized (node, peel_round) relation, checkpointed by
    * [[graft.api.Supersteps]] so round r+1's lineage doesn't re-run
    * round r.
    *
    * Oracle: 6 unrolled MATERIALIZED CTE rounds (the q192 convention).
    */
  val q198KcoreOnion: QueryDef = {
    def round(r: Int): String = {
      val prev = s"a${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT e.src AS node, count(*) AS d
         |  FROM e2 e JOIN $prev x ON x.node = e.src JOIN $prev y ON y.node = e.dst
         |  GROUP BY e.src),
         |p$r AS MATERIALIZED (SELECT a.node FROM $prev a
         |  LEFT JOIN d$r d ON d.node = a.node WHERE coalesce(d.d, 0) < 2),
         |a$r AS MATERIALIZED (SELECT a.node FROM $prev a
         |  LEFT JOIN d$r d ON d.node = a.node WHERE coalesce(d.d, 0) >= 2)""".stripMargin
    }
    QueryDef(
      "q198_kcore_onion",
      "k-core onion decomposition (k=2, 6 synchronous peel rounds) on the co-purchase graph",
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ed AS MATERIALIZED (SELECT u, v FROM (
         |        SELECT a.p AS u, b.p AS v, count(*) AS c
         |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
         |        GROUP BY a.p, b.p)
         |      WHERE c >= 2),
         |e2 AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
         |                    UNION ALL SELECT v, u FROM ed),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e2),
         |${(1 to 6).map(round).mkString(",\n")},
         |peeled AS (${(1 to 6)
            .map(r => s"SELECT node, $r AS pr FROM p$r")
            .mkString("\n  UNION ALL ")})
         |SELECT a0.node, CAST(coalesce(peeled.pr, 0) AS BIGINT) AS peel_round,
         |  CAST(CASE WHEN peeled.pr IS NULL THEN 1 ELSE 0 END AS BIGINT) AS in_core
         |FROM a0 LEFT JOIN peeled ON peeled.node = a0.node
         |ORDER BY a0.node""".stripMargin) { (s, d) =>
      val ed = MiningQueries.pairSupport(s, d).select(col("u"), col("v"))
      val e2 = ed.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(ed.select(col("v").as("src"), col("u").as("dst")))
      // one (node, peel_round) relation: 0 while a node survives
      val init = e2.select(col("src").as("node")).distinct()
        .withColumn("peel_round", lit(0L))
      val layers = graft.api.Supersteps.run("q198", init, 6) { (st, r) =>
        val alive = st.filter(col("peel_round") === 0L).select(col("node"))
        val deg = e2
          .join(alive.withColumnRenamed("node", "src"), "src")
          .join(alive.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src")).agg(count(lit(1)).as("d"))
          .withColumnRenamed("src", "node")
        val next = st.join(deg, Seq("node"), "left_outer")
          .select(col("node"),
            when(col("peel_round") === 0L && coalesce(col("d"), lit(0L)) < 2,
              lit(r.toLong)).otherwise(col("peel_round")).as("peel_round"))
        (next, col("peel_round") === r.toLong)
      }.state
      layers.select(col("node"), col("peel_round"),
          when(col("peel_round") === 0L, 1L).otherwise(0L).as("in_core"))
        .orderBy(col("node"))
    }
  }

  /** Degree cap for q209's wedge stage: a center vertex of degree d
    * contributes d² candidate pairs, so hubs above this cap are
    * excluded from wedge enumeration — the [[graft.queries
    * .DedupQueries.ShingleDfFloor]] hot-cap convention. Semantically benign for
    * resource allocation: a hub's per-wedge contribution is
    * 1e6 div d → 0 as d grows (Zhou et al.'s motivation for RA over
    * raw common-neighbors), and the ORACLE mirrors the cap so parity
    * is exact at any corpus. Far above every degree in the synthetic
    * graphs (sf0.1 max degree ≈ 10²).
    */
  private[graft] val MaxWedgeDegree = 10000L

  /** Link prediction over the co-purchase graph — common-neighbor
    * count and the Resource Allocation index (Zhou/Lü/Zhang 2009:
    * Σ_{z ∈ Γ(u)∩Γ(v)} 1/deg(z), the strongest of the classic local
    * similarity scores) for the top-20 NON-adjacent pairs: "which
    * parts will be co-purchased next" — the recommender read the
    * similarity family (q140 cosine on shared baskets) approximates
    * from ratings and this derives from pure graph structure.
    *
    * Exactness: per-center contribution is 1_000_000 div deg —
    * integer division, summed as integers, bit-identical in both
    * engines (no float 1/d accumulation-order drift). Ranking ties
    * break by (cn DESC, u, v) — total, so LIMIT 20 is deterministic.
    *
    * Scale shape: edges are the memoized support ≥ 2 relation
    * ([[MiningQueries.pairSupport]] — paid once per session, 5th
    * consumer); wedge enumeration is one center-keyed equi self-join
    * of the symmetrized edge list, bounded by Σ deg(z)² with hubs
    * df-capped out (see [[MaxWedgeDegree]]); existing edges leave via
    * one left-anti join; top-20 is TakeOrdered, never a global sort.
    */
  val q209LinkPrediction = QueryDef(
    "q209_link_prediction",
    "link prediction on the co-purchase graph: top-20 non-edges by resource-allocation index (integer micro) + common neighbors",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT u, v FROM (
      |        SELECT a.p AS u, b.p AS v, count(*) AS c
      |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |        GROUP BY a.p, b.p)
      |      WHERE c >= 2),
      |sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
      |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY x),
      |cold AS (SELECT sym.x, sym.y, deg.d FROM sym JOIN deg ON deg.x = sym.x
      |         WHERE deg.d <= 10000),
      |sc AS (SELECT a.y AS u, b.y AS v,
      |         CAST(count(*) AS BIGINT) AS cn,
      |         CAST(sum(1000000 // a.d) AS BIGINT) AS ra_micro
      |       FROM cold a JOIN cold b ON a.x = b.x AND a.y < b.y
      |       GROUP BY a.y, b.y),
      |ne AS (SELECT sc.u, sc.v, sc.cn, sc.ra_micro FROM sc
      |       LEFT JOIN e ON e.u = sc.u AND e.v = sc.v
      |       WHERE e.u IS NULL)
      |SELECT u, v, cn, ra_micro FROM ne
      |ORDER BY ra_micro DESC, cn DESC, u, v LIMIT 20""".stripMargin) { (s, d) =>
    val e = MiningQueries.pairSupport(s, d).select(col("u"), col("v"))
    val sym = e.select(col("u").as("x"), col("v").as("y"))
      .unionAll(e.select(col("v").as("x"), col("u").as("y")))
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("d"))
    val cold = sym.join(deg, "x").filter(col("d") <= MaxWedgeDegree)
    val sc = cold.alias("a")
      .join(cold.alias("b"), col("a.x") === col("b.x") && col("a.y") < col("b.y"))
      .select(col("a.y").as("u"), col("b.y").as("v"), col("a.d").as("d"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div d")).as("ra_micro"))
    sc.join(e, Seq("u", "v"), "left_anti")
      .orderBy(col("ra_micro").desc, col("cn").desc, col("u"), col("v"))
      .limit(20)
  }

  /** PERSONALIZED PageRank — seed-based relevance over the
    * co-purchase graph: "given these anchor products, which parts are
    * most relevant" — the recommendation read global PageRank (q96's
    * machinery) can't give, because its uniform teleport measures
    * centrality, not affinity to a query set. Seeds are the 3
    * smallest node ids (deterministic metadata); teleport mass
    * restarts ONLY at seeds, so score = exact-integer seed-relative
    * relevance ([[graft.api.PageRank.personalized]] — the same
    * fixed-point discipline and per-iteration join+aggregate shape as
    * the weighted variant, 4 rounds). Top-30 via TakeOrdered.
    *
    * Scale shape: edges are the memoized support ≥ 2 relation (6th
    * consumer); each of 4 rounds is one src-keyed equi join + one
    * partial-aggregable dst aggregate on the node-table-sized score
    * relation; the oracle replays all rounds as unrolled CTEs.
    */
  val q225PersonalizedPagerank = QueryDef(
    "q225_personalized_pagerank",
    "personalized PageRank from 3 seed parts on the co-purchase graph: exact integer fixed-point, 4 rounds, top-30",
    s"""${graft.api.PageRank.personalizedOracleSql(
      // one pp evaluation, symmetrized by a 2-row dir relation —
      // spelling the pp self-join twice (once per direction) doubled
      // the heaviest subquery even under the MATERIALIZED `e`
      """SELECT CASE d.dir WHEN 0 THEN pp.u ELSE pp.v END AS src,
        |        CASE d.dir WHEN 0 THEN pp.v ELSE pp.u END AS dst,
        |        pp.c AS w
        |      FROM (
        |        SELECT a.p AS u, b.p AS v, count(*) AS c
        |        FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a
        |        JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b
        |          ON a.o = b.o AND a.p < b.p
        |        GROUP BY a.p, b.p
        |        HAVING count(*) >= 2) pp
        |      CROSS JOIN (SELECT 0 AS dir UNION ALL SELECT 1) d""".stripMargin,
      "SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 3", 4)}
       |SELECT node AS p_partkey, score AS ppr_micro FROM s4
       |ORDER BY score DESC, node LIMIT 30""".stripMargin) { (s, d) =>
    val pr = MiningQueries.pairSupport(s, d)
    val edges = pr.select(col("u").as("src"), col("v").as("dst"), col("c").as("w"))
      .unionAll(pr.select(col("v").as("src"), col("u").as("dst"), col("c").as("w")))
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(3)
    graft.api.PageRank.personalized(edges, seeds, 4)
      .orderBy(col("score").desc, col("node")).limit(30)
      .select(col("node").as("p_partkey"), col("score").as("ppr_micro"))
  }

  val all: Seq[QueryDef] =
    Seq(q100Triangles, q131HierarchyFlatten, q144KhopReachability,
      q192LabelPropagation, q198KcoreOnion, q209LinkPrediction,
      q225PersonalizedPagerank)
}
