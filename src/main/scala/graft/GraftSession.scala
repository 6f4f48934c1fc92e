package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the mains, tools and specs:
  * UTC session time zone, parquet nanosecond timestamps read as
  * BIGINT, no UI, and one shuffle partition per local thread.
  *
  * Artifact isolation is off: graft adds no session artifacts, and
  * with isolation on every `newSession()` runs its tasks in a
  * classloader of its own, which is part of Spark's codegen cache key,
  * so each fresh session recompiled the classes the last one built.
  */
object GraftSession {
  /** Local threads of the default master: `SPARK_GRAFT_CPUS`, else 32. */
  private lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `master` is a `local[n]` or `local[n, maxFailures]` URL; its `n`
    * sets `spark.sql.shuffle.partitions`.
    */
  def create(master: String = s"local[$cpus]",
      warehouseDir: Option[String] = None): SparkSession = {
    val threads = """local\[(\d+)""".r.findFirstMatchIn(master)
      .map(_.group(1)).getOrElse(cpus)
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    b.getOrCreate()
  }
}
