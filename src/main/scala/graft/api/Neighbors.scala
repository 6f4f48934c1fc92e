package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe access to the PREVIOUS and NEXT row under a GLOBAL
  * total order — the adjacency primitive behind sorted-suffix LCP
  * (q179's variable-length ExactSubstr), without the
  * `lag() OVER (ORDER BY ...)` single-reducer funnel.
  *
  * Shape (the [[Ranking]] family's): range-repartition on the order
  * keys so every shuffle partition holds a contiguous key range, take
  * within-partition lag/lead (partitioned by `spark_partition_id()` —
  * all K tasks busy), then patch the K partition boundaries from a
  * K-row METADATA relation of per-partition first/last values
  * (broadcast back, one row per non-empty partition; empty range
  * partitions simply have no row, so the boundary lag/lead over the
  * metadata skips them correctly).
  *
  * `orderCols` must be a TOTAL order (include a unique tie-breaker) —
  * same contract as [[Ranking.withRank]]. With ties the neighbor
  * CHOICE is nondeterministic but callers that only consume a
  * function of the neighbor VALUE at equal keys (e.g. LCP, which is
  * maximal for any equal-key neighbor) remain deterministic.
  *
  * `orderCols` must also be PLAIN (ascending) expressions — no
  * `.desc`: the K-partition boundary carries compare per-partition
  * extrema via `min_by`/`max_by` over `struct(orderCols)`, which only
  * matches the window sort when every column ascends (a descending
  * column would silently pick the wrong boundary row). Enforced with
  * a loud require; to order descending, negate or invert the column
  * (the q199 inverted-key idiom) and keep the call ascending.
  */
object Neighbors {

  /** Reject `.asc`/`.desc`-wrapped columns: the boundary-carry
    * `struct(orderCols)` comparisons assume plain ascending
    * expressions (see object scaladoc).
    */
  private def isSortOrderColumn(c: Column): Boolean = {
    val n = c.node
    // Column-API .asc/.desc wrap an sql.internal.SortOrder node
    // (private[sql]; match by class name) …
    n.getClass.getSimpleName == "SortOrder" || {
      // … but expr("x DESC") parses to a CATALYST SortOrder wrapped in
      // an ExpressionColumnNode — a different node class, so the
      // simple-name check alone misses it (advisor find, round 12).
      // ExpressionColumnNode is private[sql] too; pull its wrapped
      // expression reflectively and reject catalyst SortOrder as well.
      try {
        n.getClass.getMethod("expression").invoke(n)
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder]
      } catch { case _: NoSuchMethodException => false }
    }
  }

  private def requireAscending(orderCols: Seq[Column]): Unit =
    require(orderCols.forall(c => !isSortOrderColumn(c)),
      "Neighbors orderCols must be plain (ascending) expressions — " +
        "min_by/max_by boundary carries over struct(orderCols) only match " +
        "an all-ascending sort; invert the column instead of .desc")

  /** Adds `prevCol`/`nextCol`: `valueCol` of the globally previous /
    * next row by `orderCols` (null at the corpus ends).
    */
  def withNeighbors(
      df: DataFrame,
      orderCols: Seq[Column],
      valueCol: String,
      prevCol: String = "prev",
      nextCol: String = "next"): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    requireAscending(orderCols)
    require(!df.columns.contains(prevCol) && !df.columns.contains(nextCol),
      s"input already has a '$prevCol' or '$nextCol' column")
    require(Seq("__pid", "__rn", "__cnt").forall(c => !df.columns.contains(c)),
      "input already has a '__pid', '__rn' or '__cnt' column")
    val parts = graft.Reuse.query(
      df.repartitionByRange(orderCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val ww = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val within = parts
      .withColumn("__rn", row_number().over(ww))
      .withColumn(prevCol, lag(col(valueCol), 1).over(ww))
      .withColumn(nextCol, lead(col(valueCol), 1).over(ww))
    // per-partition first/last value + row count: one partial+final
    // aggregate → ≤ K metadata rows; the boundary lag/lead below runs
    // on THAT
    val bounds = parts.groupBy(col("__pid"))
      .agg(min_by(col(valueCol), struct(orderCols: _*)).as("__first"),
        max_by(col(valueCol), struct(orderCols: _*)).as("__last"),
        count(lit(1)).as("__cnt"))
    val wb = Window.orderBy(col("__pid"))
    val adj = bounds
      .select(col("__pid"), col("__cnt"),
        lag(col("__last"), 1).over(wb).as("__prev_last"),
        lead(col("__first"), 1).over(wb).as("__next_first"))
    // Patch the K partition boundaries by ROW POSITION (first/last row
    // of the partition), never by null-ness of the lag/lead — a null
    // `valueCol` on an interior row must stay null, not inherit the
    // previous partition's last value.
    within.join(broadcast(adj), Seq("__pid"))
      .withColumn(prevCol,
        when(col("__rn") === 1, col("__prev_last")).otherwise(col(prevCol)))
      .withColumn(nextCol,
        when(col("__rn") === col("__cnt"), col("__next_first"))
          .otherwise(col(nextCol)))
      .drop("__pid", "__rn", "__cnt", "__prev_last", "__next_first")
  }

  /** Adds `prevCol`/`nextCol`: the nearest NON-NULL `valueCol` at or
    * before / at or after each row under the global `orderCols` order
    * (null only before the first / after the last non-null row of the
    * whole relation). This is global LOCF/NOCB — the primitive behind
    * cross-side sorted-suffix LCP (q207: for a train suffix, the
    * nearest BENCH suffix in either direction maximizes the LCP by
    * the suffix-array adjacency identity, and "bench value, null on
    * train rows" makes that exactly a nearest-non-null scan) — in ONE
    * range exchange, never a `last_value IGNORE NULLS` over a global
    * single-reducer window.
    *
    * Shape: range-repartition on the order keys; within each of the K
    * partitions a running `last(ignoreNulls)` in both directions (two
    * window sorts over the same exchange); then the K partition
    * carries — per-partition first/last non-null value — are LOCF'd
    * across the ≤K-row metadata relation and broadcast back to fill
    * rows whose partition has no earlier/later non-null.
    *
    * `orderCols` must be a TOTAL order (unique tie-breaker), same
    * contract as [[withNeighbors]]; "at or before" includes the row
    * itself, which is the natural contract when callers null out the
    * value on the rows that consume it (a consuming row's own value
    * is null, so inclusion is vacuous).
    */
  def withNearestNonNull(
      df: DataFrame,
      orderCols: Seq[Column],
      valueCol: String,
      prevCol: String = "prev_nn",
      nextCol: String = "next_nn"): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    requireAscending(orderCols)
    require(!df.columns.contains(prevCol) && !df.columns.contains(nextCol),
      s"input already has a '$prevCol' or '$nextCol' column")
    require(Seq("__pid", "__carry_prev", "__carry_next")
        .forall(c => !df.columns.contains(c)),
      "input already has a '__pid', '__carry_prev' or '__carry_next' column")
    val parts = graft.Reuse.query(
      df.repartitionByRange(orderCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val wAsc = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(col("__pid"))
      .orderBy(orderCols.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = parts
      .withColumn(prevCol, last(col(valueCol), ignoreNulls = true).over(wAsc))
      .withColumn(nextCol, last(col(valueCol), ignoreNulls = true).over(wDesc))
    // per-partition first/last NON-NULL value: max_by/min_by skip rows
    // whose ordering struct is null, so gating the struct on value
    // null-ness yields null for all-null partitions — which the
    // metadata LOCF below then skips, exactly like an absent row
    val bounds = parts.groupBy(col("__pid"))
      .agg(
        max_by(col(valueCol),
          when(col(valueCol).isNotNull, struct(orderCols: _*))).as("__last_nn"),
        min_by(col(valueCol),
          when(col(valueCol).isNotNull, struct(orderCols: _*))).as("__first_nn"))
    // carries over the ≤K-row metadata (single-reducer window on K
    // rows — the withNeighbors convention): strictly-before /
    // strictly-after, since `within` already covers the own partition
    val wb = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = Window.orderBy(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val adj = bounds.select(col("__pid"),
      last(col("__last_nn"), ignoreNulls = true).over(wb).as("__carry_prev"),
      last(col("__first_nn"), ignoreNulls = true).over(wf).as("__carry_next"))
    within.join(broadcast(adj), Seq("__pid"))
      .withColumn(prevCol, coalesce(col(prevCol), col("__carry_prev")))
      .withColumn(nextCol, coalesce(col(nextCol), col("__carry_next")))
      .drop("__pid", "__carry_prev", "__carry_next")
  }
}
