package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star schema (see TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the sf dir.
  *
  * Parquet is the canonical columnar input: predicate pushdown, column
  * pruning and partition pruning are free (SURVEY.md §2.2 sources). At
  * cluster scale the same loaders work on a directory of many files —
  * nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** All loads normalize any TIMESTAMP_NTZ column to the session-zone
    * `TimestampType`: the driver's generator has already flipped one
    * table's timestamp encoding between rounds (`events.ts`,
    * TIMESTAMP(NANOS) → timestamp[us] without timezone — which Spark
    * reads as TIMESTAMP_NTZ and which `unix_micros`, timestamp
    * comparisons and watermarks all reject at analysis time), and
    * `orders.o_orderdate` / `lineitem.l_shipdate` carry the same
    * parquet shape. Our sessions pin the session timezone to UTC, so
    * the cast is a lossless relabel and DuckDB (which treats the
    * column as plain TIMESTAMP either way) stays in parity.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    fingerprint(path) match {
      case Some(fp) =>
        // Memoize the RESOLVED relation per (session, path, content
        // fingerprint) — round 17: `spark.read.parquet` re-runs file
        // listing + footer schema resolution on the driver EVERY call
        // (~130 ms each measured; a 5-table query paid ~650 ms of its
        // runtime just constructing its plan). A real deployment reads
        // through a catalog that resolves a table once; this memo is
        // that catalog. Only the lazy logical plan is reused — every
        // action still scans parquet (no data/result caching). The
        // fingerprint (file names/sizes/mtimes) keys out in-session
        // rewrites (fuzz/spec fixtures), matching the semantics of
        // Spark's own catalog file-index cache. One entry per path,
        // holding the fingerprint it was resolved under: a rewrite
        // replaces it, so stale relations never accumulate.
        val key = s"tables.rel:$path"
        def memoized = SessionMemo.getOrComputeAs[(String, DataFrame)](
          spark, key)((fp, resolve(spark, path)))
        val (seen, rel) = memoized
        if (seen == fp) rel
        else {
          SessionMemo.invalidate(spark, key)
          val (now, fresh) = memoized
          // a concurrent load may have memoized another fingerprint
          if (now == fp) fresh else resolve(spark, path)
        }
      case None => resolve(spark, path) // non-local/missing: resolve raw
    }
  }

  private def resolve(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw) { (df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }

  /** Cheap content fingerprint of a LOCAL parquet file/dir: xxhash-free
    * fold of (name, length, mtime) over the FULL RECURSIVE listing
    * (round-17 advisor: a one-level fold missed rewrites inside nested
    * partition subdirectories). Symlinked directories below the root
    * are folded as entries, not descended, so a link cycle cannot
    * recurse. None when the path is not a local file — the caller then
    * resolves uncached, preserving the pre-round-17 behavior for any
    * non-local URI.
    */
  private[graft] def fingerprint(path: String): Option[String] = {
    val f = new java.io.File(path)
    if (!f.exists()) return None
    def sig(x: java.io.File): Long = {
      var h = x.getName.hashCode.toLong
      h = h * 1000003L + x.length()
      h * 1000003L + x.lastModified()
    }
    // x itself, then (for a directory) its subtree in name order
    def walk(x: java.io.File): Option[Seq[java.io.File]] =
      if (!x.isDirectory ||
          (x != f && java.nio.file.Files.isSymbolicLink(x.toPath))) Some(Seq(x))
      else Option(x.listFiles()).flatMap(_.toSeq.sortBy(_.getName)
        .foldLeft(Option(Seq(x))) { (acc, k) =>
          for (a <- acc; w <- walk(k)) yield a ++ w
        })
    walk(f).map(files => java.lang.Long.toHexString(
      files.foldLeft(1469598103934665603L)(
        (a, x) => a * 1099511628211L ^ sig(x))))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` arrives in three parquet encodings depending on the
    * writer generation; all normalize to a session-zone
    * `TimestampType`. The timestamp[us]-without-timezone (NTZ) and
    * timestamp[us]-with-timezone generations are handled by [[load]];
    * the remaining special case is TIMESTAMP(NANOS), which Spark has
    * no native type for and reads as a nanos-since-epoch LONG under
    * `spark.sql.legacy.parquet.nanosAsLong` (set by our session
    * builders). `div` keeps the arithmetic in LongType — a double
    * division would lose precision above 2^53 ns; DuckDB's
    * `CAST(ts AS TIMESTAMP)` truncates ns→us the same way, so oracle
    * parity holds.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
