package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Randomized-corpus differential fuzzer: derives ADVERSARIAL variant
  * corpora from a driver sf directory — same schemas, hostile value
  * distributions — so the full DuckDB oracle compare can be replayed
  * on inputs the deterministic testdata never exercises. The point is
  * DIFFERENTIAL: both engines read the same mutated parquet, so any
  * divergence is an engine-semantics bug (or a documented SURVEY §5
  * accepted class), never a "wrong fixture".
  *
  * Variants (all mutations keyed by seeded xxhash64 of the row key —
  * bit-reproducible across runs and engines):
  *  - `nulls`: NULLs injected into every nullable value column
  *    (documents.text/lang/source, events.props/event_type,
  *    customer/supplier/part strings, order/lineitem dates) — the
  *    null-joins / null-aggregates / null-banding class.
  *  - `empty`: every table truncated to zero rows — the degenerate
  *    aggregate / empty-join / head()-on-nothing class.
  *  - `unicode`: multi-byte, combining, RTL, zero-width and emoji
  *    text appended/substituted in documents and names — the
  *    byte-length-vs-codepoint and collation class.
  *  - `skew`: 90% of event/order/lineitem foreign keys collapsed onto
  *    a handful of hot values (plus FK orphans) — the hot-partition /
  *    salting / skew-join class.
  *
  * Usage: runMain graft.tools.FuzzData <srcSfDir> <outDir> <variant> [seed]
  */
object FuzzData {

  val Variants: Seq[String] = Seq("nulls", "empty", "unicode", "skew")

  private val UnicodeTokens = Seq(
    "żółć", "日本語テキスト", "🦀🔥🧪", "éclaiŕ",
    "​zero​width​", "مرحبا بالعالم", "Ωμέγα ß İstanbul",
    "한국어 테스트", "Ψάρι\nνεράκι", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢")

  def main(args: Array[String]): Unit = {
    val (src, out, variant) = (args(0), args(1), args(2))
    val seed = args.lift(3).map(_.toLong).getOrElse(14L)
    require(Variants.contains(variant), s"unknown variant $variant")
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, variant, seed)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
      variant: String, seed: Long): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val mutated = variant match {
        case "empty" => df.limit(0)
        case "nulls" => nulls(df, t, seed)
        case "unicode" => unicode(df, t, seed)
        case "skew" => skew(df, t, seed)
      }
      mutated.coalesce(4).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[fuzz:$variant] wrote $t")
    }
  }

  /** hash in [0, 100) keyed on (seed, key column, salt) — the
    * deterministic coin every mutation flips.
    */
  private def pct(key: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), key, lit(salt)), lit(100))

  private def nullify(df: DataFrame, key: String, seed: Long,
      colsPct: (String, Int)*): DataFrame =
    colsPct.zipWithIndex.foldLeft(df) { case (d, ((c, p), i)) =>
      d.withColumn(c,
        when(pct(col(key), seed, i + 1) < p, lit(null)).otherwise(col(c)))
    }

  private def nulls(df: DataFrame, t: String, seed: Long): DataFrame =
    t match {
      case "documents" =>
        // text/lang/source independently nulled; n_chars kept
        // CONSISTENT with the mutated text (null text => null length)
        val d = nullify(df, "doc_id", seed,
          "text" -> 20, "lang" -> 15, "source" -> 15)
        d.withColumn("n_chars",
          when(col("text").isNull, lit(null).cast("long"))
            .otherwise(col("n_chars")))
      case "events" =>
        nullify(df, "event_id", seed,
          "props" -> 30, "event_type" -> 10, "value" -> 10)
      case "customer" =>
        nullify(df, "c_custkey", seed, "c_name" -> 20, "c_mktsegment" -> 20)
      case "supplier" => nullify(df, "s_suppkey", seed, "s_name" -> 20)
      case "part" =>
        nullify(df, "p_partkey", seed, "p_brand" -> 15, "p_type" -> 15)
      case "orders" =>
        nullify(df, "o_orderkey", seed,
          "o_orderpriority" -> 20, "o_orderdate" -> 5)
      case "lineitem" =>
        nullify(df, "l_orderkey", seed,
          "l_returnflag" -> 10, "l_shipdate" -> 5)
      case _ => df // keys/dims stay intact
    }

  private def unicode(df: DataFrame, t: String, seed: Long): DataFrame = {
    def tok(key: Column, salt: Int): Column =
      element_at(
        array(UnicodeTokens.map(lit): _*),
        (pmod(xxhash64(lit(seed), key, lit(salt)), lit(UnicodeTokens.size))
          + 1).cast("int"))
    t match {
      case "documents" =>
        df.withColumn("text",
            when(pct(col("doc_id"), seed, 1) < 20,
              concat_ws(" ", col("text"), tok(col("doc_id"), 2)))
              .when(pct(col("doc_id"), seed, 3) < 5, tok(col("doc_id"), 4))
              .otherwise(col("text")))
          .withColumn("lang",
            when(pct(col("doc_id"), seed, 5) < 5, lit("ζη"))
              .otherwise(col("lang")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "customer" =>
        df.withColumn("c_name",
          when(pct(col("c_custkey"), seed, 1) < 25,
            concat(col("c_name"), lit(" "), tok(col("c_custkey"), 2)))
            .otherwise(col("c_name")))
      case "part" =>
        df.withColumn("p_name",
          when(pct(col("p_partkey"), seed, 1) < 25,
            concat(tok(col("p_partkey"), 2), lit(" "), col("p_name")))
            .otherwise(col("p_name")))
      case _ => df
    }
  }

  private def skew(df: DataFrame, t: String, seed: Long): DataFrame =
    t match {
      case "events" =>
        // 90% of events collapse onto 3 hot users (including FK-valid
        // ids); ts left intact so temporal logic sees dense timelines
        df.withColumn("user_id",
          when(pct(col("event_id"), seed, 1) < 90,
            pmod(col("user_id"), lit(3L))).otherwise(col("user_id")))
      case "orders" =>
        df.withColumn("o_custkey",
          when(pct(col("o_orderkey"), seed, 1) < 80,
            pmod(col("o_custkey"), lit(5L)) + 1L).otherwise(col("o_custkey")))
      case "lineitem" =>
        df.withColumn("l_partkey",
            when(pct(col("l_orderkey"), seed, 1) < 70, lit(1L))
              .otherwise(col("l_partkey")))
          .withColumn("l_suppkey",
            when(pct(col("l_orderkey"), seed, 2) < 70, lit(1L))
              .otherwise(col("l_suppkey")))
      case "documents" =>
        // skewed SOURCE distribution — per-source aggregates see one
        // giant group; near-dup banding sees an unchanged text corpus
        df.withColumn("source",
          when(pct(col("doc_id"), seed, 1) < 85, lit("hot_source"))
            .otherwise(col("source")))
      case _ => df
    }
}
