package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank in EXACT integer fixed-point — scores are longs
  * scaled by 1e6 and every per-edge contribution is an integer
  * division, so the result is bit-identical across engines,
  * partitionings, and summation orders (integer sums commute;
  * floating-point ones don't). That determinism is what lets a SQL
  * oracle replay the iteration loop as unrolled CTEs.
  *
  * Scale shape: each iteration is one equi-join (edges ⋈ scores on
  * src — co-partitionable on the key) and one partial+final aggregate
  * on dst; per-node weighted degree is precomputed once. Scores are
  * localCheckpointed each iteration so lineage stays O(1). K is small
  * (PageRank mixes in a few iterations); at 100 TB the working set is
  * the NODE table, not the corpus.
  */
object PageRank {

  val Scale = 1000000L // score fixed-point scale (1.0 == 1e6)

  /** `edges`: (src, dst, w) with positive integer weights, both
    * directions present for an undirected graph. Returns
    * (node, score) after `k` damped iterations (d = 0.85), where
    * score ≈ 1e6 × the PageRank mass. Node set = nodes with wdeg > 0.
    * Global PageRank is [[personalized]] with every node a seed.
    */
  def weighted(edges: DataFrame, k: Int): DataFrame =
    iterate(edges, k)(_.withColumn("is_seed", lit(true)))

  /** PERSONALIZED PageRank: the teleport vector concentrates on the
    * `seeds` node set instead of spreading uniformly — scores become
    * "relevance to the seeds" (seed-based recommendation, local
    * community relevance) rather than global centrality. Seeds start
    * at `Scale` (non-seeds 0) and only seeds receive the 0.15 restart
    * mass each iteration, so every score is an exact long and the
    * oracle replays the loop as unrolled CTEs.
    */
  def personalized(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame =
    iterate(edges, k)(wdeg => wdeg
      .join(seeds.select(col("node")).withColumn("is_seed", lit(true)),
        Seq("node"), "left_outer")
      .select(col("node"), col("wdeg"),
        coalesce(col("is_seed"), lit(false)).as("is_seed")))

  /** The shared loop over the (node, wdeg, is_seed) base relation that
    * `seeded` builds from the weighted degrees.
    */
  private def iterate(edges: DataFrame, k: Int)(
      seeded: DataFrame => DataFrame): DataFrame = {
    // materialize the (aggregated, node-table-sized) edge relation
    // ONCE: it feeds wdeg, the damped-edge build, and — via base —
    // every iteration's re-seed join, and without the checkpoint each
    // of those replays the caller's corpus-side lineage (q96 pays the
    // full bigram scan per materialization).
    val e = edges.localCheckpoint()
    val wdeg = e.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("wdeg"))
    val base = seeded(wdeg).localCheckpoint()
    // out-mass rate per node is loop-invariant: fold (850 * w) / wdeg
    // into the edge relation ONCE so each iteration is a single
    // join + aggregate on a pre-damped edge table.
    val damped = e
      .join(base.select(col("node").as("src"), col("wdeg")), "src")
      .select(col("src"), col("dst"), col("w"), col("wdeg"))
      .localCheckpoint()
    var scores = base.select(col("node"),
      when(col("is_seed"), lit(Scale)).otherwise(lit(0L)).as("score"))
    for (i <- 1 to k) {
      val contrib = damped
        .join(scores.withColumnRenamed("node", "src"), "src")
        // (850 * score * w) div (1000 * wdeg): exact integer damping
        .select(col("dst").as("node"),
          expr(s"(850 * score * w) div (1000 * wdeg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      scores = base
        .join(contrib, Seq("node"), "left_outer")
        .select(col("node"),
          (when(col("is_seed"), lit(150L * Scale / 1000L)).otherwise(lit(0L)) +
            coalesce(col("in_mass"), lit(0L))).as("score"))
      // re-root lineage only every 4th iteration — a localCheckpoint
      // per round is a full materialization, pure overhead at small k.
      if (i % 4 == 0 && i < k) scores = scores.localCheckpoint()
    }
    scores
  }

  /** Oracle twin of [[personalized]]: `seedsSql` must SELECT (node)
    * and may reference the `e` CTE.
    */
  def personalizedOracleSql(edgesSql: String, seedsSql: String,
      k: Int): String = {
    // MATERIALIZED throughout: DuckDB 1.0 otherwise INLINES each CTE
    // at every reference, so `e` (often a corpus-sized self-join) is
    // recomputed inside all k unrolled rounds — the q191 failure mode
    // (measured ~1000× there; q225's sf1 replay blew the 600 s oracle
    // budget the same way). Values are unchanged; only the replay
    // cost moves.
    val base =
      s"""e AS MATERIALIZED ($edgesSql),
         |wdeg AS MATERIALIZED (SELECT src AS node, sum(w) AS wdeg FROM e GROUP BY src),
         |sd AS MATERIALIZED ($seedsSql),
         |pbase AS MATERIALIZED (SELECT wdeg.node, wdeg.wdeg, sd.node IS NOT NULL AS is_seed
         |          FROM wdeg LEFT JOIN sd ON sd.node = wdeg.node),
         |s0 AS MATERIALIZED (SELECT node, CAST(CASE WHEN is_seed THEN $Scale ELSE 0 END AS BIGINT) AS score
         |       FROM pbase)""".stripMargin
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT pbase.node,
         |    CAST((CASE WHEN pbase.is_seed THEN ${150L * Scale / 1000L} ELSE 0 END)
         |      + coalesce(m.in_mass, 0) AS BIGINT) AS score
         |  FROM pbase LEFT JOIN (
         |    SELECT e.dst AS node,
         |      sum((850 * s.score * e.w) // (1000 * d.wdeg)) AS in_mass
         |    FROM e
         |    JOIN s${i - 1} s ON s.node = e.src
         |    JOIN wdeg d ON d.node = e.src
         |    GROUP BY e.dst) m ON m.node = pbase.node)""".stripMargin
    }
    (base +: iters).mkString("WITH ", ",\n", "")
  }

  /** The oracle twin of [[weighted]]: [[personalizedOracleSql]] with
    * every node a seed. `edgesSql` must SELECT (src, dst, w).
    */
  def oracleSql(edgesSql: String, k: Int): String =
    personalizedOracleSql(edgesSql, "SELECT node FROM wdeg", k)
}
