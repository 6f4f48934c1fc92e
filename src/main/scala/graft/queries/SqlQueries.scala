package graft.queries

import graft.{QueryDef, Tables}

/** The `spark.sql` entry path — every other query declares its plan
  * through the DataFrame DSL; this one runs ANSI SQL text against
  * registered temp views, exercising the parser/analyzer route a SQL
  * user of the library takes, plus the subquery forms only the SQL
  * surface exposes: a correlated scalar subquery in SELECT (rewritten
  * by Catalyst to an aggregate + left outer join), a correlated
  * aggregate threshold in WHERE (rewritten to aggregate + inner
  * join), and EXISTS (rewritten to left semi join). Same text
  * (modulo nothing) runs on DuckDB as the oracle. The +5 margin over
  * the brand average keeps the filter selective at every scale
  * factor (sf0.001's 200-part table deviates at most ~10.7 from its
  * brand means) while every qualifying row sits ≥0.003 from the
  * threshold — 10 orders of magnitude above cross-engine
  * avg() summation noise, so the hash compare can't flip.
  */
object SqlQueries {

  /** The query text, parameterized on the two table names so each
    * invocation can bind its own uniquely-named temp views (temp
    * views are session-global — fixed names would race when two
    * queries run concurrently on one shared SparkSession, the normal
    * deployment for a query library; `ConcurrencySpec` pins this).
    */
  private def sqlFor(part: String, lineitem: String): String =
    s"""SELECT p_brand, p_partkey, p_retailprice,
       |  (SELECT count(*) FROM $lineitem l WHERE l.l_partkey = p.p_partkey) AS n_li
       |FROM $part p
       |WHERE p_retailprice > 5 + (SELECT avg(p2.p_retailprice) FROM $part p2
       |                           WHERE p2.p_brand = p.p_brand)
       |  AND EXISTS (SELECT 1 FROM $lineitem l WHERE l.l_partkey = p.p_partkey)
       |ORDER BY p_brand, p_partkey""".stripMargin

  val q63SqlSubqueries = QueryDef(
    "q63_sql_subqueries",
    "spark.sql text with correlated scalar / aggregate / EXISTS subqueries",
    sqlFor("part", "lineitem")) { (s, d) =>
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (pv, lv) = (s"part_$tag", s"lineitem_$tag")
    Tables.part(s, d).createOrReplaceTempView(pv)
    Tables.lineitem(s, d).createOrReplaceTempView(lv)
    try s.sql(sqlFor(pv, lv))
    finally {
      // the returned plan is already analyzed (views resolved) — the
      // temp catalog entries can drop immediately
      s.catalog.dropTempView(pv)
      s.catalog.dropTempView(lv)
      ()
    }
  }

  /** LATERAL join — the correlated table-valued FROM clause (top-2
    * orders per customer through the LATERAL path rather than a
    * window): Catalyst decorrelates the correlated LIMIT subquery
    * into a ranked join. Identical text runs on DuckDB.
    */
  private def lateralSqlFor(customer: String, orders: String): String =
    s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
       |FROM $customer c, LATERAL (
       |  SELECT o_orderkey, o_totalprice FROM $orders
       |  WHERE o_custkey = c.c_custkey
       |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
       |WHERE c.c_custkey < 50
       |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  val q69LateralJoin = QueryDef(
    "q69_lateral_join",
    "LATERAL correlated subquery: top-2 orders per customer",
    lateralSqlFor("customer", "orders")) { (s, d) =>
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (cv, ov) = (s"customer_$tag", s"orders_$tag")
    Tables.customer(s, d).createOrReplaceTempView(cv)
    Tables.orders(s, d).createOrReplaceTempView(ov)
    try s.sql(lateralSqlFor(cv, ov))
    finally {
      s.catalog.dropTempView(cv)
      s.catalog.dropTempView(ov)
      ()
    }
  }

  /** The two subquery rewrites q63 does NOT exercise, in the TPC-H
    * Q18/Q21 style: an uncorrelated `IN (SELECT … GROUP BY … HAVING)`
    * over an aggregate (Catalyst: aggregate → left semi join) and a
    * correlated `NOT EXISTS` with an extra predicate (Catalyst: null-
    * aware left ANTI join). Together with q63 (scalar/aggregate-
    * threshold/EXISTS) and q69 (LATERAL) the whole decorrelation
    * family a SQL user can write is planned, joined, and oracle-
    * checked — no BroadcastNestedLoop survives (suite-wide PlanSpec
    * cartesian gate). The correlated scalar SUM in SELECT re-reads
    * lineitem; all three subqueries decorrelate to keyed joins on
    * l_orderkey, so the whole plan is equi-join shaped at any scale.
    */
  private def antiInSqlFor(orders: String, lineitem: String): String =
    s"""SELECT o.o_orderkey, o.o_totalprice,
       |  (SELECT CAST(sum(l_quantity) AS BIGINT) FROM $lineitem l
       |   WHERE l.l_orderkey = o.o_orderkey) AS total_qty
       |FROM $orders o
       |WHERE o.o_orderkey IN (SELECT l_orderkey FROM $lineitem
       |                       GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
       |  AND NOT EXISTS (SELECT 1 FROM $lineitem l
       |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
       |ORDER BY o_orderkey""".stripMargin

  val q168SqlAntiIn = QueryDef(
    "q168_sql_anti_in",
    "SQL IN-over-aggregate (semi) + correlated NOT EXISTS (anti): heavy clean orders, TPC-H Q18/Q21 style",
    antiInSqlFor("orders", "lineitem")) { (s, d) =>
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ov, lv) = (s"orders_$tag", s"lineitem_$tag")
    Tables.orders(s, d).createOrReplaceTempView(ov)
    Tables.lineitem(s, d).createOrReplaceTempView(lv)
    try s.sql(antiInSqlFor(ov, lv))
    finally {
      s.catalog.dropTempView(ov)
      s.catalog.dropTempView(lv)
      ()
    }
  }

  val all: Seq[QueryDef] = Seq(q63SqlSubqueries, q69LateralJoin, q168SqlAntiIn)
}
