package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Skew-handling surface: the salting idiom for joins on heavily
  * skewed keys (SURVEY.md "salting for skew, AQE"). `l_returnflag`
  * has 3 values over ~600k rows at sf0.1 — a worst-case skew key. A
  * plain shuffle join on it puts each value on one reducer; salting
  * splits every hot key across `Salt` partitions: the fact side gets
  * a deterministic salt from its row key, the (small) dim side is
  * replicated once per salt value, and the join key becomes
  * (key, salt). Result is provably identical to the unsalted join —
  * the oracle IS the unsalted join.
  */
object SkewQueries {

  private val Salt = 16

  val q51SaltedJoin = QueryDef(
    "q51_salted_join",
    "salted join on a 3-value skew key == plain join (oracle is the unsalted join)",
    """SELECT f.flag,
      |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
      |       count(*) AS n
      |FROM lineitem l
      |JOIN (VALUES ('A', 0.10), ('N', 0.05), ('R', 0.25)) AS f(flag, penalty)
      |  ON l.l_returnflag = f.flag
      |GROUP BY f.flag
      |ORDER BY f.flag""".stripMargin) { (s, d) =>
    import s.implicits._
    // dim side: tiny in-memory rate table keyed by the skewed column,
    // replicated once per salt bucket
    val dim = Seq(("A", 0.10), ("N", 0.05), ("R", 0.25)).toDF("flag", "penalty")
      .withColumn("salt", explode(sequence(lit(0), lit(Salt - 1))))
    // fact side: deterministic salt derived from the row's unique key
    val fact = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"),
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(Salt)).as("salt"))
    fact
      .join(dim, fact("l_returnflag") === dim("flag") && fact("salt") === dim("salt"))
      .groupBy(col("flag"))
      // per-row integer cents (q01 convention): the 3-value skew key
      // makes each group span ~1/3 of lineitem, exactly the
      // data-scaled raw-double sum whose order-dependent ulp drift
      // the sf10 gate caught in q05
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).cast("double") / 100.0).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("flag"))
  }

  /** Join-skew pre-flight diagnostics — the audit that tells you
    * whether q51's salting (or AQE's skew-join split) is NEEDED
    * before a join ships: per-join-key row-count distribution
    * (mean / exact nearest-rank p50 / p99 / max) and the
    * max-key-to-mean skew ratio a planner thresholds on (10000 bp =
    * perfectly uniform; ScaleSpec's AQE case fires around ~5× median).
    *
    * Scale shape: the per-key counts are VALUE-COMPRESSED immediately
    * (counts-of-counts — support is tens of rows at any corpus size),
    * so the quantile cumsum is a window over that METADATA relation,
    * never the key table; everything else is one partial-aggregable
    * shuffle on the join key. All statistics are exact integers
    * (positive, so `div`/`//` agree); nearest-rank positions use
    * integer division in BOTH engines. LONG bound: the skew-ratio
    * numerator `10⁴·max_c·n_keys` holds while max_c·n_keys < 9·10¹⁴
    * — beyond any plausible profile (a 10¹⁰-key table with a 10⁵-row
    * hot key sits at 10¹⁹ only if BOTH extremes coincide; widen to
    * DECIMAL(38,0) there).
    */
  val q174JoinSkewAudit = QueryDef(
    "q174_join_skew_audit",
    "join-key skew pre-flight: value-compressed per-key count distribution, exact p50/p99/max, skew ratio in bp",
    """WITH kc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_orderkey),
      |cc AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM kc GROUP BY c),
      |st AS (SELECT CAST(sum(m) AS BIGINT) AS n_keys, CAST(sum(c*m) AS BIGINT) AS n_rows,
      |              CAST(max(c) AS BIGINT) AS max_c FROM cc),
      |cum AS (SELECT c, m, CAST(sum(m) OVER (ORDER BY c) AS BIGINT) AS hi FROM cc),
      |q AS (SELECT st.n_keys, st.n_rows, st.max_c,
      |        min(CASE WHEN (st.n_keys - 1) // 2 >= cum.hi - cum.m
      |                  AND (st.n_keys - 1) // 2 < cum.hi THEN cum.c END) AS p50,
      |        min(CASE WHEN ((st.n_keys - 1) * 99) // 100 >= cum.hi - cum.m
      |                  AND ((st.n_keys - 1) * 99) // 100 < cum.hi THEN cum.c END) AS p99
      |      FROM cum, st GROUP BY st.n_keys, st.n_rows, st.max_c)
      |SELECT n_keys, n_rows, (100 * n_rows) // n_keys AS mean_centi, p50, p99, max_c,
      |  (10000 * max_c * n_keys) // n_rows AS skew_ratio_bp
      |FROM q""".stripMargin) { (s, d) =>
    val kc = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
    val cc = graft.Reuse.query(
      kc.groupBy(col("c")).agg(count(lit(1)).as("m")))
    val st = cc.agg(sum(col("m")).as("n_keys"),
      sum(col("c") * col("m")).as("n_rows"), max(col("c")).as("max_c"))
    // cumsum over the counts-of-counts support — tens of rows, the
    // 20-row-spine precedent for an unpartitioned metadata window
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = cc.withColumn("hi", sum(col("m")).over(w))
    val q = cum.crossJoin(broadcast(st))
      .groupBy(col("n_keys"), col("n_rows"), col("max_c"))
      .agg(
        min(when(expr("(n_keys - 1) div 2") >= col("hi") - col("m") &&
          expr("(n_keys - 1) div 2") < col("hi"), col("c"))).as("p50"),
        min(when(expr("((n_keys - 1) * 99) div 100") >= col("hi") - col("m") &&
          expr("((n_keys - 1) * 99) div 100") < col("hi"), col("c"))).as("p99"))
    q.select(col("n_keys"), col("n_rows"),
      expr("(100 * n_rows) div n_keys").as("mean_centi"),
      col("p50"), col("p99"), col("max_c"),
      expr("(10000 * max_c * n_keys) div n_rows").as("skew_ratio_bp"))
  }

  val all: Seq[QueryDef] = Seq(q51SaltedJoin, q174JoinSkewAudit)
}
