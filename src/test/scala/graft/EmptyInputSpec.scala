package graft

/** Degenerate-input totality: every registered query must run (and
  * almost always return zero rows) against EMPTY tables with the
  * production schemas. At 100 TB this is the routine case of an
  * empty date partition, a filtered-out shard, or a first run before
  * data lands — an operator that throws on empty input poisons the
  * whole pipeline run.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty")
    Tables.all.foreach { t =>
      val schema = spark.read.parquet(s"$sfDir/$t.parquet").schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  Registry.queries.foreach { q =>
    test(s"${q.name} tolerates empty input tables") {
      val rows = q.fn(spark, emptyDir).collect()
      assert(rows.length >= 0) // reaching here (no throw) is the contract
    }
  }
}
