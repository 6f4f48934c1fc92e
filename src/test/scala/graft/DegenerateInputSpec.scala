package graft

import org.apache.spark.sql.functions._

/** Degenerate-but-nonempty totality: every registered query must run
  * without throwing against tables that exist and have rows but have
  * COLLAPSED distributions — every event the same type, every value
  * identical. At 100 TB this is the routine case of a filtered
  * partition (one event type after a WHERE), a stuck upstream sensor
  * (constant values), or a single-language shard. EmptyInputSpec
  * covers "no rows"; this covers the subtler class where group counts
  * exist but their COMPLEMENT is zero — the q137/q138 ANSI
  * divide-by-zero shape (`P·N = 0` when a two-class statistic sees
  * one class).
  */
class DegenerateInputSpec extends SparkSpec {

  private lazy val degenerateDir: String = {
    val dir = tempDir("graft_degen")
    Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      val out = t match {
        // one class, one constant value: every two-population or
        // spread statistic sees its complement/denominator collapse
        case "events" =>
          src.withColumn("event_type", lit("view"))
            .withColumn("value", lit(1.0))
        // single language and source: per-stratum operators see one
        // stratum carrying the whole corpus
        case "documents" =>
          src.withColumn("lang", lit("en")).withColumn("source", lit("src0"))
        case _ => src
      }
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  Registry.queries.foreach { q =>
    test(s"${q.name} tolerates collapsed-distribution inputs") {
      val rows = q.fn(spark, degenerateDir).collect()
      assert(rows.length >= 0) // reaching here (no throw) is the contract
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("q152 reports counts with a NULL NDCG on single-class input, not an empty result") {
    // all events are 'view' ⇒ n_pos = 0 ⇒ IDCG undefined; the
    // q137/q138 convention is one row with the counts and a NULL
    // metric, so monitoring joins never silently lose the partition
    val rows = Registry.byName("q152_ndcg_eval").fn(spark, degenerateDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(r.fieldIndex("n_pos")) == 0L)
    assert(r.getLong(r.fieldIndex("n_events")) > 0L)
    assert(r.isNullAt(r.fieldIndex("idcg_micro")))
    assert(r.isNullAt(r.fieldIndex("ndcg_bp")))
    spark.sharedState.cacheManager.clearCache()
  }

  test("q159 reports counts with a NULL rho on zero-variance input, not an empty result") {
    // all events are 'view' ⇒ every user's click count is 0 ⇒ the
    // click-rank variance d2 collapses to 0 ⇒ Spearman undefined; the
    // q137/q152 convention: one row, counts kept, NULL metric
    val rows = Registry.byName("q159_spearman_activity").fn(spark, degenerateDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(r.fieldIndex("n_users")) > 0L)
    assert(r.isNullAt(r.fieldIndex("rho_bp")))
    spark.sharedState.cacheManager.clearCache()
  }

  test("q167 reports NULL DiD when a cell is empty, not an empty result") {
    // all events are 'view' ⇒ zero purchases ⇒ every (treat, period)
    // cell is empty ⇒ the estimate is undefined; one row, NULL metric
    val rows = Registry.byName("q167_did_uplift").fn(spark, degenerateDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.isNullAt(r.fieldIndex("n_tp")))
    assert(r.isNullAt(r.fieldIndex("did_micro_cents")))
    spark.sharedState.cacheManager.clearCache()
  }
}
