package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global and per-group total ordering: the one prefix
  * sum under every global-order operator (ranks, ntile, running
  * totals, sequence packing, the [[Quantiles]] CDFs).
  *
  * `row_number() OVER (ORDER BY ...)` (or partitioned by a column with
  * only a handful of distinct values, like `source`) funnels the whole
  * table through one reducer task per partition value — the classic
  * window scale-killer. This builds the same running sum in fully
  * partitioned passes instead:
  *
  *  1. range-repartition on (group, order) keys — every shuffle
  *     partition holds a contiguous key range, all K tasks busy;
  *  2. sum the weight per (partition, group) — a partial+final
  *     aggregate yielding at most K + G metadata rows — and turn the
  *     sums into per-(partition, group) exclusive offsets and
  *     per-group totals with a second aggregate over that METADATA
  *     relation: each group's (partition, sum) pairs sorted by
  *     partition, offsets as prefix sums of that list (O(k²) for the
  *     k partitions a group spans, on metadata only);
  *  3. running sum = within-partition window sum (partitioned by
  *     (__pid, group) — all K tasks busy) + the joined-in offset.
  *
  * Nothing is collected on the driver: the offsets stay a DataFrame
  * joined back in (AQE broadcasts it when the K·G rows fit, falls back
  * to a keyed shuffle join when a high-cardinality group column makes
  * them large), so the whole thing is ONE lazy plan with no
  * unpartitioned window anywhere. The range-partitioned input is
  * cached via [[graft.Reuse.query]] so both the sum branch and the
  * running-sum branch see identical partition boundaries within the
  * single action that materializes the result, and the cache releases
  * itself when that action completes.
  *
  * `orderCols` must be a TOTAL order within each group (include a
  * unique tie-breaker): ties within a range partition would otherwise
  * sum nondeterministically — same contract as any deterministic use
  * of `row_number`.
  */
object Ranking {

  /** Adds `rankCol` (1-based dense BIGINT rank within each group by
    * `orderCols`) and `totalCol` (BIGINT group row count) to `df`.
    * Empty `groupCols` ranks globally (one group). A rank is the
    * running total of weight 1.
    */
  def withRank(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      rankCol: String = "rn",
      totalCol: String = "grp_n"): DataFrame =
    prefixSum(df, groupCols, orderCols, lit(1L), rankCol, totalCol)

  /** Adds `cumCol` (inclusive running BIGINT sum of the integral
    * `weightCol` within each group by `orderCols`) and `totalCol`
    * (BIGINT group weight total) to `df`. Empty `groupCols` sums
    * globally (one group). Never a `partitionBy(low-cardinality
    * group).orderBy` window over the data itself — the cumulative-sum
    * scale-killer this exists to replace (q145's per-type CDF over a
    * value-compressed relation that grows with the corpus).
    *
    * `orderCols` must be a total order WITHIN each group (e.g. the
    * key of a `groupBy(group, value).count()` compressed relation):
    * tied order keys would make the within-partition running sum
    * nondeterministic, same contract as [[withRank]].
    */
  def withRunningTotal(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      weightCol: String,
      cumCol: String = "cum",
      totalCol: String = "grp_n"): DataFrame =
    prefixSum(df, groupCols, orderCols, col(weightCol), cumCol, totalCol)

  private def prefixSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      weight: Column,
      cumCol: String,
      totalCol: String): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(!df.columns.contains(cumCol) && !df.columns.contains(totalCol),
      s"input already has a '$cumCol' or '$totalCol' column")
    Seq("__pid", "__off").foreach(c =>
      require(!df.columns.contains(c), s"input already has a '$c' column"))
    val parts = graft.Reuse.query(
      df.repartitionByRange((groupCols.map(col) ++ orderCols): _*)
        .withColumn("__pid", spark_partition_id()))
    // per-(partition, group) sums, then per group: the sums sorted by
    // partition, their total, and each partition's exclusive offset
    // (the sum of the partitions before it); NULL weights add 0
    val sumOf = (ps: Column) =>
      aggregate(ps, lit(0L), (acc, p) => acc + coalesce(p("__w"), lit(0L)))
    val offs = parts.groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(sum(weight).as("__w"))
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__pid"), col("__w")))).as("__ps"))
    // The offsets relation is K·G rows. For the intended low-G use it
    // broadcasts; a pathological high-cardinality group column would
    // overflow a FORCED broadcast, so no hint is given — AQE sees the
    // materialized size at runtime and picks broadcast when it fits,
    // shuffle-hash otherwise (both keyed on (__pid, group), both
    // correct). Join is NULL-SAFE (<=>) on the group columns so rows
    // with a NULL group key rank as their own group, exactly like the
    // window form this equals (PropertySpec pins it).
    val o = offs.select(
      (groupCols.map(c => col(c).as(s"__og_$c")) :+
        sumOf(col("__ps")).as(totalCol) :+
        inline(transform(col("__ps"), (p, i) => struct(
          p("__pid").as("__opid"),
          sumOf(slice(col("__ps"), lit(1), i)).as("__off"))))): _*)
    val cond = ((col("__pid") === col("__opid")) +:
      groupCols.map(c => col(c) <=> col(s"__og_$c"))).reduce(_ && _)
    val ww = Window.partitionBy(("__pid" +: groupCols).map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parts.join(o, cond)
      .withColumn(cumCol, sum(weight).over(ww) + col("__off"))
      .drop("__pid" +: "__opid" +: "__off" +: groupCols.map(c => s"__og_$c"): _*)
  }
}
