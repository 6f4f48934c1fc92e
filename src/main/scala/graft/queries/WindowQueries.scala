package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Window/analytic operators (SURVEY.md §2.2 ALG): ranking, lag/lead,
  * framed running aggregates, ntile, top-k per group. All are a single
  * shuffle on the partition key + sort within partitions — the same
  * dataflow as the reference's sort-based reduce (reducer.c:23-38),
  * generalized to ordered per-key scans.
  *
  * Determinism: every ORDER BY inside a window ends with a unique
  * tiebreaker column, and running sums go through DECIMAL so the
  * result is independent of both engines' accumulation order.
  */
object WindowQueries {

  val q11WindowRank = QueryDef(
    "q11_window_rank",
    "row_number/rank/dense_rank per group: top-3 parts per brand by price",
    """SELECT p_brand, p_partkey, p_retailprice, rn
      |FROM (SELECT p_brand, p_partkey, p_retailprice,
      |        row_number() OVER (PARTITION BY p_brand
      |                           ORDER BY p_retailprice DESC, p_partkey) AS rn
      |      FROM part)
      |WHERE rn <= 3
      |ORDER BY p_brand, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("p_brand"), col("rn"))
  }

  /** Running (cumulative) frame. The sum runs over DECIMAL(18,2) so
    * partial accumulation order cannot change the value; cast back to
    * DOUBLE only at the output boundary.
    */
  val q12RunningSum = QueryDef(
    "q12_running_sum",
    "cumulative sum + count per customer over order date (unbounded preceding frame)",
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS LAST, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS LAST, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    // NULLS LAST pinned on both engines: an undated order must take
    // the same running-frame position in both (SURVEY §5, class A)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc_nulls_last, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"),
        count(lit(1)).over(w).as("n_so_far"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** lag/lead analytics over the event stream, per user in time order.
    * Raw column values only (no arithmetic) → bit-exact both engines.
    */
  val q13LagLead = QueryDef(
    "q13_lag_lead",
    "lag/lead/first/last per user over event time",
    """SELECT user_id, event_id, value,
      |  lag(value) OVER w AS prev_value,
      |  lead(value) OVER w AS next_value,
      |  first_value(event_type) OVER w AS first_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("event_type")).over(w).as("first_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Sliding frame (moving window aggregate): 3-row moving sum. */
  val q14MovingSum = QueryDef(
    "q14_moving_sum",
    "3-row sliding frame sum per user (rowsBetween -2..0)",
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2)))
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("moving_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** ntile + percent_rank (exact rational arithmetic → deterministic
    * doubles in both engines), computed SCALE-SAFE: a bare
    * `Window.orderBy(...)` funnels the whole table through ONE
    * reducer task, so the global rank and row count come from
    * [[graft.api.Ranking.withRank]] (range repartition, per-partition
    * counts turned into offsets as metadata, within-partition
    * row numbers on all K tasks), and the quartile and percent rank
    * are per-row arithmetic on `rn` and `grp_n`. PropertySpec pins
    * this plan equal to the built-in single-window form.
    */
  val q15Ntile = QueryDef(
    "q15_ntile",
    "ntile(4) quartiles + percent_rank, scale-safe two-pass global ranking",
    """SELECT c_custkey,
      |  ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
      |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pr
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val n = 4
    graft.api.Ranking.withRank(
        Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
        Nil, Seq(col("c_acctbal"), col("c_custkey")))
      // ntile semantics: with q = grp_n div n and r = grp_n % n, the
      // first r tiles get q + 1 rows and the rest q (when q = 0 every
      // rn <= r, so the second branch never divides by zero)
      .withColumn("q", expr(s"grp_n div $n"))
      .withColumn("r", expr(s"grp_n % $n"))
      .withColumn("quartile", expr(
        """CASE WHEN rn <= r * (q + 1) THEN CAST((rn - 1) DIV (q + 1) AS INT) + 1
          |ELSE CAST(r + (rn - r * (q + 1) - 1) DIV q AS INT) + 1 END""".stripMargin))
      .withColumn("pr",
        when(col("grp_n") <= 1, lit(0.0))
          .otherwise((col("rn") - 1).cast("double") / (col("grp_n") - 1).cast("double")))
      .select(col("c_custkey"), col("quartile"), col("pr"))
      .orderBy(col("c_custkey"))
  }

  /** Top-k per group (the window-filter idiom from SURVEY §2.2
    * sort/limit): 2 highest-revenue orders per priority class.
    */
  val q16TopKPerGroup = QueryDef(
    "q16_topk_per_group",
    "top-2 orders per priority by total price (window filter idiom)",
    """SELECT o_orderpriority, o_orderkey, o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_orderpriority
      |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 2
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** Time-RANGE window frame (vs q12/q14's ROWS frames): per-user
    * trailing-1-hour event counts and value sums, the sliding-lookback
    * feature a temporal model computes per event. Spark's DSL range
    * frame needs a numeric ordering key, so the frame runs over epoch
    * MICROSECONDS with bounds [-3.6e9, 0] — exactly DuckDB's
    * `RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW`
    * on the µs-precision timestamp (both ends inclusive in both
    * engines, peers included by equal ordering value).
    */
  val q68RangeFrame = QueryDef(
    "q68_range_frame",
    "time-range window frame: trailing 1h count/sum per user-event",
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |  count(*) OVER w AS n_1h,
      |  round(sum(value) OVER w, 4) AS sum_1h
      |FROM events
      |WHERE user_id < 50
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
      |             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, d)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("ts"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 4).as("sum_1h"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q11WindowRank, q12RunningSum, q13LagLead, q14MovingSum, q15Ntile,
    q16TopKPerGroup, q68RangeFrame)
}
