package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing — the last step of a pretraining data pipeline:
  * documents are concatenated in a deterministic global order and
  * chunked into fixed token-budget training sequences (the standard
  * "concat-then-chunk" packing; a document may span a sequence
  * boundary). The output is per-document placement metadata:
  * which sequence a doc starts in, where, and how many sequences it
  * spans — exactly what a loader needs to materialize sequence k
  * without scanning its neighbors.
  *
  * The global running token total is the crux at scale: a bare
  * `sum(...) OVER (ORDER BY ...)` funnels the corpus through ONE
  * reducer task. It comes from [[Ranking.withRunningTotal]] instead —
  * range repartition, per-partition token sums turned into offsets
  * as metadata, a within-partition cumsum on all K tasks — so every
  * heavy op stays partitioned at any corpus size.
  */
object SequencePacker {

  /** Column names `pack` introduces (and `grp_n`, which it also
    * drops): inputs carrying any of these would be silently clobbered,
    * so they are rejected up front — same contract as
    * `Sharder.withShard`.
    */
  private val packReserved = Seq("cum", "grp_n", "seq_id", "end_seq", "seq_offset")
  private val sliceReserved = Seq("seq", "glo_start", "glo_end", "tok_start", "seq_off", "slice_len")

  private def requireFree(df: DataFrame, names: Seq[String], op: String): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op would overwrite input column(s) ${clash.mkString(", ")} — rename them first")
  }

  /** Placement of each row's `nCol` tokens in B-token sequences,
    * ordered by `orderCol` (a unique key). Adds:
    *   - `cum`: running token total INCLUSIVE of this row;
    *   - `seq_id`: sequence holding the row's first token;
    *   - `end_seq`: sequence holding its last token;
    *   - `seq_offset`: token offset of the row within `seq_id`.
    * Rows with zero/negative token counts must be filtered out by
    * the caller (they occupy no tokens, so they have no placement).
    *
    * One lazy plan: the range-partitioned input it caches is released
    * when the first action on the result completes.
    */
  def pack(rows: DataFrame, orderCol: String, nCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    requireFree(rows, packReserved, "SequencePacker.pack")
    // `div` keeps the arithmetic in LongType end to end — a double
    // division would lose token positions past 2^53 on a big corpus
    Ranking.withRunningTotal(rows, Nil, Seq(col(orderCol)), nCol, "cum")
      .drop("grp_n")
      .withColumn("seq_id", expr(s"(cum - $nCol) div $budget"))
      .withColumn("end_seq", expr(s"(cum - 1) div $budget"))
      .withColumn("seq_offset", expr(s"(cum - $nCol) % $budget"))
  }

  /** Loader-side materialization of `pack`'s placement: one row per
    * (document × sequence) slice. A doc occupying global token span
    * [cum − n, cum) intersected with sequence s's span
    * [s·B, (s+1)·B) yields, per overlapped sequence:
    *   - `seq`: the sequence id;
    *   - `tok_start`: first sliced token's offset WITHIN the doc;
    *   - `seq_off`: where the slice begins within the sequence;
    *   - `slice_len`: tokens in the slice.
    * Per-sequence groups of these rows are exactly the fetch plan a
    * training loader executes to assemble sequence s. The explode is
    * bounded by each doc's span count (ceil(n/B)+1), so the operator
    * stays a per-row flatMap — no shuffle beyond `pack`'s own.
    */
  def slices(packed: DataFrame, nCol: String, budget: Long): DataFrame = {
    requireFree(packed, sliceReserved, "SequencePacker.slices")
    packed
      .withColumn("seq", explode(sequence(col("seq_id"), col("end_seq"))))
      .withColumn("glo_start",
        greatest(col("cum") - col(nCol), col("seq") * budget))
      .withColumn("glo_end",
        least(col("cum"), (col("seq") + 1) * budget))
      .withColumn("tok_start", col("glo_start") - (col("cum") - col(nCol)))
      .withColumn("seq_off", col("glo_start") - col("seq") * budget)
      .withColumn("slice_len", col("glo_end") - col("glo_start"))
      .drop("glo_start", "glo_end")
  }
}
