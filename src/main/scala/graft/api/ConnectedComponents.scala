package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the cluster
  * step every near-dup dedup pipeline needs after pair generation:
  * MinHash/SimHash/LSH emit *pairs*, but the keep/drop decision is
  * per *component* (one canonical document survives per duplicate
  * cluster, cf. the reference's dedup tooling which stops at pairs).
  *
  * Algorithm: hash-to-min label propagation. Every node starts
  * labeled with itself; each round every node takes the min label
  * across itself and its neighbors. The component minimum travels one
  * hop per round, so the loop converges in `diameter(G)` rounds —
  * for duplicate clusters (near-cliques by construction: members are
  * pairwise similar) that is 1–2 rounds plus one to observe the
  * fixpoint. Each round is one shuffle join (labels onto edge
  * endpoints) + one partial-aggregated groupBy min — both plain
  * hash-partitioned exchanges that scale out; nothing is ever
  * collected to the driver.
  *
  * Scale notes for 100 TB corpora:
  *  - `localCheckpoint()` after every round truncates the logical
  *    plan — without it the lineage (and Catalyst analysis time)
  *    grows linearly with rounds, the classic iterative-algorithm
  *    trap.
  *  - Each round runs on [[Supersteps]]: its one checkpoint job also
  *    observes how many labels the round lowered, and the loop stops
  *    on the first round that lowered none — the fixpoint test costs
  *    no Spark job of its own.
  *  - For adversarial long-path graphs (diameter ≫ log n) the
  *    textbook upgrade is alternating large-star/small-star
  *    contraction (O(log² n) rounds; Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC 2014 — public
  *    literature). Duplicate graphs never look like that, so simple
  *    propagation stays the default — but when the round cap is hit
  *    without a fixpoint, [[label]] FALLS BACK to [[starContract]],
  *    so a path-shaped graph of length ≫ maxRounds still labels
  *    correctly (pinned by the `ScaleSpec` chain fixture);
  *    [[starContract]] throws at its own cap.
  */
object ConnectedComponents {

  /** Labels every node with the minimum node id of its component.
    *
    * @param nodes single-column DataFrame `id` (one row per node;
    *              isolated nodes come out as their own component)
    * @param edges two-column DataFrame `u`, `v` (undirected; may
    *              contain duplicates, either orientation)
    * @param maxRounds propagation rounds before falling back to
    *                  [[starContract]] (O(log² n) rounds regardless of
    *                  diameter)
    * @return DataFrame (`id`, `component`) where `component` is the
    *         min id reachable from `id`
    */
  def label(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    requireIntegralIds(nodes)
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint()
    val init = nodes.select(col("id"), col("id").as("lbl"))
    val out = Supersteps.run("cc.label", init, maxRounds) { (labels, _) =>
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy(col("u"))
        .agg(min(col("vlbl")).as("nbr"))
        .select(col("u").as("id"), col("nbr"))
      val next = labels
        .join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"),
          (col("nbr") < col("lbl")).as("lowered"))
      (next, col("lowered"))
    }
    // exiting via the cap, not the fixpoint: labels are NOT final, so
    // switch to the diameter-independent star contraction
    if (!out.converged) starContract(nodes, edges)
    else out.state.select(col("id"), col("lbl").as("component"))
  }

  /** Alternating large-star/small-star edge contraction (Kiveris et
    * al., SoCC 2014): each round rewires every node's strictly-larger
    * (large-star) then smaller-or-equal (small-star) neighbors to its
    * neighborhood minimum. Distances to the component minimum shrink
    * multiplicatively, so a path of length L needs O(log² L) rounds
    * where hash-to-min propagation needs L — the escape hatch for
    * diameter ≫ maxRounds graphs. At the fixpoint the edge set is a
    * star forest (every edge points at its component's min id); labels
    * read straight off the edges. Each half-round is one groupBy +
    * one keyed join — the same shuffle class as propagation — and the
    * edge set never grows beyond the input edge count.
    *
    * Progress is the number of output edges a half-round produced by
    * moving an edge to a new endpoint: zero exactly when the round's
    * input was already a star forest — a node with both a smaller and
    * a larger neighbor rewires in the large-star half, and a node with
    * two smaller neighbors in the small-star half.
    */
  def starContract(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    requireIntegralIds(nodes)
    // canonical undirected edges (u < v), no self-loops
    val init = edges
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    // one row per output edge; rewired if any row producing it was
    def dedup(ed: DataFrame): DataFrame =
      ed.groupBy(col("u"), col("v")).agg(max(col("rewired")).as("rewired"))

    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
      val mn = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      dedup(sym.join(mn, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"), (col("m") =!= col("u")).as("rewired")))
    }

    def smallStar(ed: DataFrame): DataFrame = {
      // orient to (big, small); every node's smaller neighbors plus
      // itself rewire to the minimum m of that set: (b, m) stays as
      // (m, b), every other (b, s) becomes (m, s)
      val or = ed.select(greatest(col("u"), col("v")).as("b"),
        least(col("u"), col("v")).as("s"), col("rewired"))
      val mn = or.groupBy(col("b")).agg(min(col("s")).as("m"))
      val keep = col("s") === col("m")
      dedup(or.join(mn, "b")
        .select(col("m").as("u"), when(keep, col("b")).otherwise(col("s")).as("v"),
          (col("rewired") || !keep).as("rewired")))
    }

    val out = Supersteps.run("cc.starContract", init, maxRounds) { (e, _) =>
      (smallStar(largeStar(e.select(col("u"), col("v")))), col("rewired"))
    }
    if (!out.converged)
      throw new IllegalStateException(
        s"starContract did not converge within $maxRounds rounds")
    // fixpoint: edges are (root, member) stars; isolated nodes label
    // themselves
    nodes
      .join(out.state.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Integral ids only: the min-label algebra and the fixpoint tests
    * are written for exact integer ids.
    */
  private def requireIntegralIds(nodes: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val idType = nodes.schema("id").dataType
    require(Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"ConnectedComponents needs an integral id column, got ${idType.sql}")
  }
}
