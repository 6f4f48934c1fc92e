package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-ladder data generator: replicates a driver sf directory by an
  * integer factor with STRUCTURE-PRESERVING remaps, so per-shard
  * statistics (duplicate density, basket shapes, per-user timelines,
  * FK containments) stay constant while the corpus grows — the honest
  * way to measure how a plan's wall-time scales.
  *
  * Remap design (copy c of factor F):
  * - Every key interleaves as `k·F + c` — magnitudes stay small
  *   (q131's pointer-doubling depth bound is `key/100 ≤ 256`) and all
  *   FK pairs (orders→customer, lineitem→part/supplier/orders) remap
  *   consistently, so containment directions and join fan-outs are
  *   preserved exactly.
  * - `documents.text` of copy c > 0 passes through a per-copy
  *   CHARACTER BIJECTION (affine permutation of [a-z0-9] applied via
  *   `translate`): token structure, TF profiles, shingle sets, string
  *   lengths, and edit distances are all invariant under a bijection,
  *   so within-copy workload shape replicates EXACTLY, while distinct
  *   maps give zero cross-copy shingle overlap and cross-copy prefix
  *   edit distance ≫ any threshold — near-dup structure REPLICATES
  *   for both the shingle and the edit-distance families (pair counts
  *   scale linearly) instead of every doc gaining F−1 near-twins
  *   (pair counts would scale quadratically — a different workload,
  *   not a bigger one; a `c{c}` token prefix measured a 69×/decade
  *   blowup in q82's true pairs, and fixed-position copy tags create
  *   copy-constant PassJoin band cells — round 16).
  * - `embeddings.embedding` of copy c is the c-step cyclic shift: a
  *   permutation is orthogonal, so intra-copy geometry (all cosines/
  *   distances, cluster structure) is EXACTLY preserved while a vector
  *   and its shifted self decorrelate — no cross-copy near-dup pairs.
  * - events/orders/lineitem values, timestamps and categories are
  *   untouched: per-type value distributions replicate, so the
  *   value-compressed relations (q138/q145/q153/q154) stay
  *   metadata-sized while the pre-compression scan grows F×.
  *
  * Usage: runMain graft.tools.ScaleData <srcSfDir> <outDir> <factor>
  * [comma-separated-tables] — the optional subset serves third-decade
  * (×1000) corpora, where documents must be excluded (432 distinct
  * affine maps) and skipping unmeasured tables saves disk.
  */
object ScaleData {

  /** The bijection domain: the corpus alphabet (all-lowercase words;
    * digits included for robustness). Characters outside it — spaces,
    * punctuation — pass through, preserving token boundaries.
    */
  val Alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Copy c's character bijection as a translate() target string: the
    * affine permutation x → a·x + b over Z₃₆ with a coprime to 36 and
    * (a, b) = (coprime[c div 36], c mod 36) — distinct maps for every
    * c < 432, identity at c = 0. Two distinct affine maps agree on at
    * most gcd(a−a′, 36) ≤ 12 of the 36 characters, so cross-copy
    * text is substituted at nearly every position.
    */
  def affineMap(c: Int): String = {
    val as = Seq(1, 5, 7, 11, 13, 17, 19, 23, 25, 29, 31, 35)
    val a = as((c / 36) % 12)
    val b = c % 36
    (0 until 36).map(i => Alpha((a * i + b) % 36)).mkString
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val f = args(2).toInt
    // optional 4th arg: comma-separated table subset (third-decade
    // corpora only need the measured families' tables; skipping the
    // rest keeps a ×1000 run inside the box's disk budget)
    val tables: Option[Set[String]] = args.lift(3).map(_.split(",").map(_.trim).toSet)
    // Factor ceilings are PER-GUARANTEE: the embedding transform
    // (shift / negated shift / hash-sign diagonal — all orthogonal)
    // is distinct per copy to f ≤ 4096 with overwhelming probability;
    // the documents character bijection has exactly 432 distinct
    // affine maps, so past 432 copies cross-copy text pairs repeat a
    // map and the near-dup workload turns quadratic — refuse unless
    // documents is excluded OR the caller accepts that dedup-family
    // measurements on the output are invalid (we refuse; exclude the
    // table instead).
    require(f >= 1 && f <= 4096, s"factor $f out of range [1, 4096]")
    require(f <= 432 || tables.exists(t => !t.contains("documents")),
      s"factor $f > 432 exceeds the distinct affine-map count for documents.text " +
        "(cross-copy near-dup structure would repeat); pass a table subset excluding documents")
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    def wanted(t: String): Boolean = tables.forall(_.contains(t))

    def write(df: DataFrame, t: String): Unit = {
      df.repartition(64)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] wrote $t")
    }

    def remap(df: DataFrame, c: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) * f + lit(c)))

    def replicated(t: String, keys: Seq[String])(extra: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(t)) {
        val base = graft.Tables.load(spark, src, t)
        // chunked union+append: a single f-way union is fine to ~128
        // children but a ×1000 plan stalls analysis and balloons the
        // driver; 64-copy chunks keep every written plan small while
        // the output stays one parquet dir
        (0 until f).grouped(64).zipWithIndex.foreach { case (chunk, ci) =>
          val scaled = chunk
            .map(c => extra(remap(base, c, keys: _*), c))
            .reduce(_.unionAll(_))
          val mode = if (ci == 0) "overwrite" else "append"
          scaled.repartition(math.max(8, 64 * chunk.size / f))
            .write.mode(mode).parquet(s"$out/$t.parquet")
        }
        println(s"[scale] wrote $t")
      }

    // tiny lookup tables pass through unscaled (their FKs from the
    // scaled side are untouched, so containment holds)
    Seq("region", "nation").filter(wanted)
      .foreach(t => write(graft.Tables.load(spark, src, t), t))

    replicated("customer", Seq("c_custkey"))((d, _) => d)
    replicated("supplier", Seq("s_suppkey"))((d, _) => d)
    replicated("part", Seq("p_partkey"))((d, _) => d)
    replicated("orders", Seq("o_orderkey", "o_custkey"))((d, _) => d)
    replicated("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))((d, _) => d)
    replicated("events", Seq("event_id", "user_id"))((d, _) => d)

    replicated("documents", Seq("doc_id")) { (d, c) =>
      if (c == 0) d
      else
        // Per-copy CHARACTER BIJECTION (round 16): every structural
        // statistic an operator measures is invariant under a char
        // bijection — token equality/inequality, TF profiles, shingle
        // sets, string LENGTHS, and (the round-16 find) LEVENSHTEIN
        // DISTANCES — so within-copy workload shape replicates
        // EXACTLY, while distinct maps make cross-copy tokens (zero
        // shingle overlap) and cross-copy 60-char prefixes (substituted
        // at nearly every character, ed ≫ 4) unrelated. The two
        // rejected designs are documented here because both FAILED at
        // sf10: a `c{c}` token prefix leaves cross-copy template docs
        // within ed 4 (TRUE pairs grew 69×/decade — a quadratic
        // workload, not a bigger one), and any fixed-position copy
        // tag (head tag, stacked chained prefixes) turns a PassJoin
        // segment window into a COPY-CONSTANT band key — one
        // quadratic candidate cell of n/copies docs (measured 10⁹
        // candidates at sf10). A bijection adds zero bytes and no
        // fixed-position content.
        d.withColumn("text",
          translate(col("text"), ScaleData.Alpha, ScaleData.affineMap(c)))
    }

    replicated("embeddings", Seq("vec_id")) { (d, c) =>
      if (c == 0) d
      else {
        // copy c: cyclic shift by c mod 64; copies in [64, 128)
        // additionally NEGATE; copies ≥ 128 (round 17, for the ×1000
        // third-decade corpus) compose the shift with a HASH-SIGN
        // DIAGONAL keyed by group g = c div 64 (component i flips
        // sign iff xxhash64(g, i) is odd). Every variant is an
        // orthogonal transform — a signed permutation — so intra-copy
        // geometry (all cosines/distances, cluster structure) is
        // EXACTLY preserved, while distinct copies' transforms
        // decorrelate cross-copy vectors (two independent ±1
        // patterns agree everywhere with prob 2⁻⁶⁴). Copies < 128
        // keep the historical transforms bit-for-bit, so sf10
        // corpora regenerate identically to round 16.
        val s = c % 64
        val g = c / 64
        val shifted =
          if (s == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${s + 1}, size(embedding) - $s), slice(embedding, 1, $s))")
        val signed =
          if (g == 0) shifted
          else if (g == 1) transform(shifted, x => -x)
          else transform(shifted, (x, i) =>
            when(pmod(xxhash64(lit(g), i), lit(2)) === 0, x).otherwise(-x))
        d.withColumn("embedding", signed)
      }
    }

    println(s"[scale] done: $src x$f -> $out")
    spark.stop()
  }
}
