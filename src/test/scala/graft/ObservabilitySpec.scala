package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps.Event

/** Pipeline observability + incremental-sink idioms a production
  * 100 TB ingest relies on: `observe()` metrics ride along the
  * existing action (no second pass over the data — the counters the
  * reference gets from its mapper.log, without a log scrape), and
  * `foreachBatch` + dynamic partition overwrite is the
  * incremental-upsert pattern for parquet sinks (each micro-batch
  * replaces exactly the partitions it touches).
  */
class ObservabilitySpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L)

  test("observe() collects data-quality metrics on the same pass as the action") {
    val observed = Tables.lineitem(spark, sfDir)
      .observe("quality_gate",
        count(lit(1)).as("rows_seen"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        max(col("l_quantity")).as("max_qty"))
      .filter(col("l_quantity") > 0)
    // the action must run the observed Dataset's own QueryExecution —
    // count() would build a new plan (and new metrics-less execution)
    val n = observed.collect().length.toLong
    val metrics = observed.queryExecution.observedMetrics("quality_gate")
    assert(metrics.getAs[Long]("rows_seen") >= n,
      "gate must see every scanned row")
    assert(metrics.getAs[Long]("null_qty") == 0L)
    assert(metrics.getAs[Double]("max_qty") > 0)
  }

  test("foreachBatch + dynamic overwrite upserts only touched partitions per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = tempDir("graft_upsert")
    val orig = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val input = MemoryStream[Event]
      val q = input.toDF()
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // per-day latest-value compaction inside the batch, then
          // replace exactly the days present in this micro-batch
          batch.groupBy($"day", $"user_id")
            .agg(sum($"value").as("total"))
            .write.mode("overwrite").partitionBy("day").parquet(path)
          ()
        }
        .start()
      try {
        input.addData(
          Event(ts(0), 1L, "view", 1.0),
          Event(ts(10), 1L, "view", 2.0),
          Event(ts(60 * 24), 2L, "view", 5.0))
        q.processAllAvailable()
        // second batch touches ONLY day 2 — day 1's output must survive
        input.addData(Event(ts(60 * 24 + 5), 2L, "view", 7.0))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(path)
        .select($"day", $"user_id", $"total")
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(
        ("2024-01-01", 1L, 3.0),   // untouched by batch 2
        ("2024-01-02", 2L, 7.0)),  // replaced by batch 2 (not 12.0: overwrite, not append)
        s"unexpected sink contents: $got")
    } finally {
      orig match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}
