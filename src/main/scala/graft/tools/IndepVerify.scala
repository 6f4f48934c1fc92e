package graft.tools

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** INDEPENDENT sf10 output verification for the four families whose
  * full-replay DuckDB twins are structurally infeasible at second-
  * decade scale (round-17 verdict task 2): q221 weighted Jaccard
  * (70 GB oracle spill), q82 edit-distance join (1.8e11 brute pairs),
  * q60 hyperplane LSH (same), q236 bitext mining (O(Σ|cell|²) replay
  * + 600 s Lloyd). Their r16 sf10 rows proved only "engine
  * completes"; this tool verifies OUTPUT with checks that scale:
  *
  *  1. FULL SOUNDNESS — every emitted row's values are recomputed
  *     exactly in plain driver-side Scala from the raw inputs
  *     (independent of the distributed plan, the rewrites, the
  *     df-cap/hot-map machinery, and Catalyst codegen). Cost is
  *     O(|output|), not O(n²).
  *  2. SLICE COMPLETENESS — one ScaleData copy (id ≡ c mod F) is
  *     brute-forced driver-side: every qualifying intra-copy pair
  *     must have been emitted, value-exactly. ScaleData's structure-
  *     preserving remap makes one copy a faithful sample of the
  *     whole corpus's near-dup structure (cross-copy pairs are
  *     constructed to not exist), so intra-copy completeness is the
  *     strongest brute-forceable statement about the corpus.
  *  3. PLANTED CROSS-SLICE PROBES — a probe corpus appends twins of
  *     docs from MANY different copies (ids past the corpus max, so
  *     every planted pair crosses the slice structure); the engine
  *     must find all of them with exactly the recomputed values.
  *     This is the completeness direction slices cannot cover.
  *  4. q236 instead uses the DECOMPOSED-ORACLE route: the engine
  *     materializes its within-cell pair relation `pr` (u, w, qd)
  *     and the tool (a) fully re-verifies the IVF assignment of all
  *     n vectors and the cell-pair structure and a qd sample in
  *     plain Scala given the materialized centroids, and (b) leaves
  *     `pr` + the final output on disk for `tools/indep_sf10.py` to
  *     replay the margin/mutual-best tail in DuckDB at full scale
  *     (the tail of the proven q236 oracle, now feasible because the
  *     O(Σ|cell|²) dot-product stage is the engine's own artifact).
  *
  * The LSH/cosine replays intentionally share the documented kernels
  * (Mix64 scramble, double-accumulation cosine, HALF_UP 4-decimal
  * round): the approximation IS the operator's spec, and what this
  * tool independently exercises is the distributed execution —
  * banding, joins, caps, corrections — not the kernel definition.
  *
  * Usage: IndepVerify <sfDir> <workDir> <outJson> [copies=100]
  * Emits one JSON object with a row per family; `ok` is the AND of
  * that family's checks.
  */
object IndepVerify {

  // ---------- plain-Scala exact primitives ----------

  def toksOf(text: String): Array[String] =
    text.split(" ", -1).filter(_.nonEmpty)

  /** Multiset of adjacent word-3-grams (q221's unit). */
  def gramCounts(toks: Array[String]): mutable.HashMap[(String, String, String), Long] = {
    val m = mutable.HashMap.empty[(String, String, String), Long]
    var i = 0
    while (i + 2 < toks.length) {
      val k = (toks(i), toks(i + 1), toks(i + 2))
      m.update(k, m.getOrElse(k, 0L) + 1L)
      i += 1
    }
    m
  }

  /** (smin, tot_a, tot_b, wjaccard_bp) — q221's exact columns. */
  def wJaccard(a: mutable.HashMap[(String, String, String), Long],
      b: mutable.HashMap[(String, String, String), Long]): (Long, Long, Long, Long) = {
    val ta = a.valuesIterator.sum
    val tb = b.valuesIterator.sum
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    var smin = 0L
    small.foreach { case (k, c) =>
      val o = large.getOrElse(k, 0L)
      smin += math.min(c, o)
    }
    val denom = ta + tb - smin
    val bp = if (denom <= 0) 0L else (10000L * smin) / denom
    (smin, ta, tb, bp)
  }

  /** Banded Levenshtein with early exit past `max` (q82's verify). */
  def lev(a: String, b: String, max: Int): Int = {
    if (math.abs(a.length - b.length) > max) return max + 1
    val n = a.length; val m = b.length
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > max) return max + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** q82's prefix: first 60 CHARS, kept only if pure single-byte
    * (the octet_length == length filter).
    */
  def pfxOf(text: String): Option[String] = {
    val p = text.substring(0, math.min(60, text.length))
    if (p.forall(_ < 128)) Some(p) else None
  }

  /** One signature word of the engine's LSH kernel
    * (plans.LshSignature.compute over a float vector).
    */
  def sigWord(vec: Array[Float], nBits: Int, seed: Long): Long = {
    var sig = 0L
    var i = 0
    while (i < nBits) {
      var acc = 0.0
      var j = 0
      while (j < vec.length) {
        val z = graft.plans.Mix64.mix(
          seed + i.toLong * 6364136223846793005L + (j.toLong + 1L) * 1442695040888963407L)
        acc += (if ((z & 1L) == 0L) vec(j).toDouble else -vec(j).toDouble)
        j += 1
      }
      if (acc > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** All 2r band values of a vector under the engine's derived
    * (2r², r) banding at rewrite seed 7 with the per-word lane
    * layout (word w covers bands [w·(64/r), ...), seed stride
    * 2685821657736338717).
    */
  def bandValues(vec: Array[Float], r: Int): Array[Long] = {
    val totalBands = 2 * r
    val bandsPerWord = 64 / r
    val nWords = (totalBands + bandsPerWord - 1) / bandsPerWord
    val words = Array.tabulate(nWords) { w =>
      val bandsInWord = math.min(bandsPerWord, totalBands - w * bandsPerWord)
      sigWord(vec, bandsInWord * r, 7L + w.toLong * 2685821657736338717L)
    }
    Array.tabulate(totalBands) { b =>
      val w = b / bandsPerWord
      val off = (b % bandsPerWord) * r
      (words(w) >>> off) & ((1L << r) - 1)
    }
  }

  /** Engine cosine kernel + Spark round(x, 4): double accumulation in
    * component order, HALF_UP through BigDecimal (SimilarTo.matches).
    */
  def cosRound4(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / math.sqrt(na * nb)
    java.math.BigDecimal.valueOf(c)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  // ---------- harness ----------

  private def jstr(s: String) = "\"" + s + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val work = args(1)
    val outJson = args(2)
    val copies = args.lift(3).map(_.toInt).getOrElse(100)
    val sliceRem = 7L // deterministic; any copy index works
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val rows = mutable.ArrayBuffer.empty[String]
    def record(name: String, checks: Seq[(String, Any)]): Unit = {
      val ok = checks.collect { case (_, b: Boolean) => b }.forall(identity)
      val body = checks.map {
        case (k, v: Boolean) => s"${jstr(k)}: $v"
        case (k, v: Long) => s"${jstr(k)}: $v"
        case (k, v: Int) => s"${jstr(k)}: $v"
        case (k, v) => s"${jstr(k)}: ${jstr(v.toString)}"
      }.mkString(", ")
      rows += s"""{${jstr("query")}: ${jstr(name)}, ${jstr("ok")}: $ok, $body}"""
      println(s"[indep] $name ok=$ok  $body")
    }

    verifyQ221(spark, sfDir, work, copies, sliceRem, record)
    verifyQ82(spark, sfDir, work, copies, sliceRem, record)
    verifyQ60(spark, sfDir, work, copies, sliceRem, record)
    verifyQ236(spark, sfDir, work, record)

    val json = s"""{"sf_dir": ${jstr(sfDir)}, "slice": "id % $copies == $sliceRem",
      |"rows": [${rows.mkString(",\n")}]}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(s"[indep] artifact written: $outJson")
    spark.stop()
  }

  // ---------- q221 ----------

  private def verifyQ221(s: SparkSession, d: String, work: String,
      copies: Int, rem: Long,
      record: (String, Seq[(String, Any)]) => Unit): Unit = {
    val out = graft.Registry.byName("q221_weighted_jaccard").fn(s, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // SOUNDNESS: recompute every emitted row from the raw texts
    val ids = out.keySet.flatMap(p => Seq(p._1, p._2))
    val texts = fetchTexts(s, d, ids)
    val grams = texts.map { case (id, t) => id -> gramCounts(toksOf(t)) }
    val soundBad = out.par.count { case ((a, b), (smin, ta, tb, bp)) =>
      wJaccard(grams(a), grams(b)) != ((smin, ta, tb, bp)) || bp < 5000 || a >= b
    }
    // SLICE COMPLETENESS: brute-force one copy
    val slice = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(copies)) === rem)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sg = slice.map { case (id, t) =>
      val g = gramCounts(toksOf(t)); (id, g, g.valuesIterator.sum)
    }.sortBy(_._1)
    val expected = sg.indices.par.flatMap { i =>
      val (ida, ga, ta) = sg(i)
      (i + 1 until sg.length).flatMap { j =>
        val (idb, gb, tb) = sg(j)
        // wj >= 0.5 forces min(tot)/max(tot) >= 0.5 — skip hopeless pairs
        if (math.min(ta, tb) * 2 < math.max(ta, tb)) None
        else {
          val (smin, t1, t2, bp) = wJaccard(ga, gb)
          if (bp >= 5000) Some((ida, idb) -> ((smin, t1, t2, bp))) else None
        }
      }
    }.toMap.seq
    val engineSlice = out.filter { case ((a, b), _) =>
      a % copies == rem && b % copies == rem }
    val sliceOk = expected == engineSlice
    // PLANTED CROSS-SLICE PROBES: 80%-prefix twins of docs from 8
    // different copies, ids past the corpus max
    val maxId = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
    val srcs = (0 until 8).map(i => maxId / 2 + i * 13 + i) // spread over copies
    val srcRows = Tables.documents(s, d)
      .filter(col("doc_id").isin(srcs.map(Long.box): _*))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect()
    import s.implicits._
    val planted = srcRows.zipWithIndex.map { case (r, i) =>
      val toks = toksOf(r.getString(1))
      val keep = math.max(3, (toks.length * 4) / 5)
      val twin = toks.take(keep).mkString(" ")
      (maxId + 1 + i, twin, r.getString(2), r.getString(3), twin.length.toLong,
        r.getLong(0))
    }
    val probeDir = s"$work/probe_q221"
    Tables.documents(s, d).unionAll(
      planted.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars", "src")
        .drop("src"))
      .repartition(32).write.mode("overwrite").parquet(s"$probeDir/documents.parquet")
    val probeOut = graft.Registry.byName("q221_weighted_jaccard").fn(s, probeDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val plantedFound = planted.count { case (tid, twin, _, _, _, sid) =>
      val g1 = gramCounts(toksOf(twin))
      val src = srcRows.find(_.getLong(0) == sid).get.getString(1)
      val want = wJaccard(gramCounts(toksOf(src)), g1)
      want._4 >= 5000 && probeOut.get((math.min(sid, tid), math.max(sid, tid)))
        .contains(want)
    }
    val plantedEligible = planted.count { case (_, twin, _, _, _, sid) =>
      val src = srcRows.find(_.getLong(0) == sid).get.getString(1)
      wJaccard(gramCounts(toksOf(src)), gramCounts(toksOf(twin)))._4 >= 5000
    }
    record("q221_weighted_jaccard", Seq(
      "emitted" -> out.size.toLong,
      "sound" -> (soundBad == 0),
      "slice_docs" -> slice.length.toLong,
      "slice_expected" -> expected.size.toLong,
      "slice_complete_and_exact" -> sliceOk,
      "planted_eligible" -> plantedEligible.toLong,
      "planted_found_exact" -> (plantedFound == plantedEligible && plantedEligible >= 6)))
  }

  // ---------- q82 ----------

  private def verifyQ82(s: SparkSession, d: String, work: String,
      copies: Int, rem: Long,
      record: (String, Seq[(String, Any)]) => Unit): Unit = {
    val out = graft.Registry.byName("q82_fuzzy_join").fn(s, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getInt(3)))).toMap
    val ids = out.keySet.flatMap(p => Seq(p._1, p._2))
    val meta = fetchDocMeta(s, d, ids)
    val soundBad = out.par.count { case ((a, b), (lang, dist)) =>
      val (la, ta) = meta(a); val (lb, tb) = meta(b)
      val ok = for { pa <- pfxOf(ta); pb <- pfxOf(tb) }
        yield la == lb && la == lang && a < b && lev(pa, pb, 4) == dist && dist <= 4
      !ok.getOrElse(false)
    }
    // slice brute force, grouped by lang
    val slice = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(copies)) === rem)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().flatMap(r => pfxOf(r.getString(2)).map(p =>
        (r.getLong(0), r.getString(1), p)))
    val expected = slice.groupBy(_._2).toSeq.par.flatMap { case (lang, ds) =>
      val sorted = ds.sortBy(_._1)
      for {
        i <- sorted.indices
        j <- (i + 1) until sorted.length
        dist = lev(sorted(i)._3, sorted(j)._3, 4) if dist <= 4
      } yield (sorted(i)._1, sorted(j)._1) -> ((lang, dist))
    }.toMap.seq
    val engineSlice = out.filter { case ((a, b), _) =>
      a % copies == rem && b % copies == rem }
    val sliceOk = expected == engineSlice
    // planted: 2-char edits of long-enough ASCII-prefix docs
    val maxId = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
    val cand = Tables.documents(s, d)
      .filter(col("n_chars") >= 80)
      .filter(pmod(col("doc_id"), lit(copies * 7)) < lit(8))
      .limit(8)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect().filter(r => pfxOf(r.getString(1)).isDefined)
    import s.implicits._
    val planted = cand.zipWithIndex.map { case (r, i) =>
      val t = r.getString(1).toCharArray
      def flip(p: Int): Unit = t(p) = if (t(p) == 'q') 'z' else 'q'
      flip(5); flip(25)
      (maxId + 1 + i, new String(t), r.getString(2), r.getString(3),
        t.length.toLong, r.getLong(0))
    }
    val probeDir = s"$work/probe_q82"
    Tables.documents(s, d).unionAll(
      planted.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars", "src")
        .drop("src"))
      .repartition(32).write.mode("overwrite").parquet(s"$probeDir/documents.parquet")
    val probeOut = graft.Registry.byName("q82_fuzzy_join").fn(s, probeDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getInt(3)))).toMap
    val plantedFound = planted.count { case (tid, twin, lang, _, _, sid) =>
      val src = cand.find(_.getLong(0) == sid).get.getString(1)
      val want = for { pa <- pfxOf(src); pb <- pfxOf(twin) } yield lev(pa, pb, 4)
      want.exists(dv => dv <= 4 &&
        probeOut.get((math.min(sid, tid), math.max(sid, tid)))
          .contains((lang, dv)))
    }
    record("q82_fuzzy_join", Seq(
      "emitted" -> out.size.toLong,
      "sound" -> (soundBad == 0),
      "slice_docs" -> slice.length.toLong,
      "slice_expected" -> expected.size.toLong,
      "slice_complete_and_exact" -> sliceOk,
      "planted" -> planted.length.toLong,
      "planted_found_exact" -> (plantedFound == planted.length && planted.length >= 6)))
  }

  // ---------- q60 ----------

  private def verifyQ60(s: SparkSession, d: String, work: String,
      copies: Int, rem: Long,
      record: (String, Seq[(String, Any)]) => Unit): Unit = {
    val out = graft.Registry.byName("q60_hyperplane_lsh").fn(s, d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val n = graft.api.AutoTune.corpusRows(s, d)
    val r = graft.api.AutoTune.lshR(n)
    val ids = out.keySet.flatMap(p => Seq(p._1, p._2))
    val vecs = fetchVecs(s, d, ids)
    // SOUNDNESS: every emitted pair really is a band collision at the
    // derived banding AND its exact rounded cosine, >= 0.45
    val soundBad = out.par.count { case ((a, b), cs) =>
      val va = vecs(a); val vb = vecs(b)
      val collide = bandValues(va, r).zip(bandValues(vb, r)).exists(t => t._1 == t._2)
      !(a < b && collide && cosRound4(va, vb) == cs && cs >= 0.45)
    }
    // SLICE COMPLETENESS: replay banding for one copy
    val slice = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(copies)) === rem)
      .select(col("vec_id"), col("embedding"))
      .collect().map(x => (x.getLong(0), x.getSeq[Float](1).toArray))
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Long]]
    val byId = slice.toMap
    slice.foreach { case (id, v) =>
      bandValues(v, r).zipWithIndex.foreach { case (bv, b) =>
        buckets.getOrElseUpdate((b, bv), mutable.ArrayBuffer.empty) += id
      }
    }
    val expected = mutable.HashMap.empty[(Long, Long), Double]
    buckets.valuesIterator.foreach { members =>
      val m = members.sorted
      for (i <- m.indices; j <- (i + 1) until m.length) {
        val key = (m(i), m(j))
        if (!expected.contains(key)) {
          val cs = cosRound4(byId(m(i)), byId(m(j)))
          if (cs >= 0.45) expected.update(key, cs)
        }
      }
    }
    val engineSlice = out.filter { case ((a, b), _) =>
      a % copies == rem && b % copies == rem }
    val sliceOk = expected.toMap == engineSlice
    // PLANTED: exact-duplicate vectors from 8 different copies
    val maxId = Tables.embeddings(s, d).agg(max(col("vec_id"))).head().getLong(0)
    val srcs = (0 until 8).map(i => maxId / 2 + i * 13 + i)
    val srcRows = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(srcs.map(Long.box): _*))
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect()
    import s.implicits._
    val planted = srcRows.zipWithIndex.map { case (x, i) =>
      (maxId + 1 + i, x.getSeq[Float](1).toArray, x.getInt(2), x.getLong(0))
    }
    val probeDir = s"$work/probe_q60"
    Tables.embeddings(s, d).unionAll(
      planted.toSeq.map(p => (p._1, p._2, p._3)).toDF("vec_id", "embedding", "label"))
      .repartition(32).write.mode("overwrite").parquet(s"$probeDir/embeddings.parquet")
    val probeOut = graft.Registry.byName("q60_hyperplane_lsh").fn(s, probeDir)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    val plantedFound = planted.count { case (tid, v, _, sid) =>
      probeOut.get((math.min(sid, tid), math.max(sid, tid)))
        .contains(cosRound4(v, v))
    }
    record("q60_hyperplane_lsh", Seq(
      "emitted" -> out.size.toLong,
      "derived_r" -> r.toLong,
      "sound" -> (soundBad == 0),
      "slice_vecs" -> slice.length.toLong,
      "slice_expected" -> expected.size.toLong,
      "slice_complete_and_exact" -> sliceOk,
      "planted" -> planted.length.toLong,
      "planted_found_exact" -> (plantedFound == planted.length && planted.length >= 6)))
  }

  // ---------- q236 (decomposed oracle) ----------

  private def verifyQ236(s: SparkSession, d: String, work: String,
      record: (String, Seq[(String, Any)]) => Unit): Unit = {
    val k = graft.api.AutoTune.isolationKFor(s, d)
    val centsDf = graft.queries.SimilarityQueries.corpusCentroids(s, d, k = k, iters = 6)
    val cents = centsDf
      .collect().map(x => (x.getInt(0), x.getSeq[Double](1).toArray)).sortBy(_._1)
    // engine-side materialization: assignment + quantization + pairs
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), (col("label") % 2).as("side"))
    val assigned = graft.queries.SimilarityQueries
      .assignCells(t, centsDf, "embedding", "side")
      .select(col("vec_id"), col("c_id"),
        col("embedding").cast("array<double>").as("v"), col("side"))
      .withColumn("nrm2", aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
      .filter(col("nrm2") > 0)
      .select(col("vec_id"), col("c_id"), col("side"),
        transform(col("v"),
          x => floor(lit(1000.0) * x / sqrt(col("nrm2")) + lit(0.5))
            .cast("long")).as("qu"))
    assigned.write.mode("overwrite").parquet(s"$work/q236_asgn.parquet")
    val asgn = s.read.parquet(s"$work/q236_asgn.parquet")
    val a = asgn.filter(col("side") === 0)
      .select(col("vec_id").as("u"), col("c_id"), col("qu").as("qa"))
    val b = asgn.filter(col("side") === 1)
      .select(col("vec_id").as("w"), col("c_id").as("c2"), col("qu").as("qb"))
    a.join(b, col("c_id") === col("c2"))
      .select(col("u"), col("w"),
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (acc, z) => acc + z).as("qd"))
      .write.mode("overwrite").parquet(s"$work/q236_pr.parquet")
    graft.Registry.byName("q236_bitext_mining").fn(s, d)
      .write.mode("overwrite").parquet(s"$work/q236_out.parquet")
    // (a) FULL assignment + quantization re-verification, plain Scala
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), (col("label") % 2).as("side"))
      .collect().map(x => (x.getLong(0), x.getSeq[Float](1).toArray, x.getInt(2)))
    def cosRaw(v: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < v.length) {
        val x = v(i).toDouble; val y = c(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val mat = asgn.collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getSeq[Long](3).toArray)))
      .toMap
    val asgnBad = all.par.count { case (id, v, side) =>
      var nrm2 = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble; nrm2 += x * x; i += 1 }
      if (nrm2 == 0.0) mat.contains(id) // zero vectors must be absent
      else {
        // argmax by (csim, -c_id) — the engine's max_by tiebreak
        var bc = -1; var bs = Double.NegativeInfinity
        cents.foreach { case (cid, ce) =>
          val cs = cosRaw(v, ce)
          if (cs > bs || (cs == bs && (bc == -1 || cid < bc))) { bs = cs; bc = cid }
        }
        val qu = v.map(x => math.floor(1000.0 * x.toDouble / math.sqrt(nrm2) + 0.5).toLong)
        mat.get(id) match {
          case Some((mc, ms, mq)) =>
            mc != bc || ms != side || !java.util.Arrays.equals(mq, qu)
          case None => true // non-zero vector missing from assignment
        }
      }
    }
    // (b) cell-pair structure: pr's pair set for every cell must be
    // exactly side0(cell) × side1(cell) of the verified assignment,
    // with a qd spot-recompute on a deterministic sample
    val prRows = s.read.parquet(s"$work/q236_pr.parquet")
    val prCount = prRows.count()
    val cellSizes = mat.toSeq.groupBy(_._2._1)
      .map { case (c, xs) => c -> ((xs.count(_._2._2 == 0).toLong, xs.count(_._2._2 == 1).toLong)) }
    val wantPairs = cellSizes.valuesIterator.map { case (n0, n1) => n0 * n1 }.sum
    val sample = prRows.filter(pmod(col("u") + col("w"), lit(997)) === 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val sampleBad = sample.par.count { case (u, w, qd) =>
      val (cu, _, qa) = mat(u); val (cw, _, qb) = mat(w)
      var dot = 0L
      var i = 0
      while (i < qa.length) { dot += qa(i) * qb(i); i += 1 }
      !(cu == cw && dot == qd)
    }
    record("q236_bitext_mining", Seq(
      "vectors" -> all.length.toLong,
      "cells" -> k.toLong,
      "assignment_and_quantization_exact" -> (asgnBad == 0),
      "pr_rows" -> prCount,
      "pr_rows_match_cell_structure" -> (prCount == wantPairs),
      "qd_sample" -> sample.length.toLong,
      "qd_sample_exact" -> (sampleBad == 0),
      "duckdb_tail" -> "deferred to tools/indep_sf10.py over q236_pr.parquet"))
  }

  // ---------- fetch helpers ----------

  private def fetchTexts(s: SparkSession, d: String,
      ids: Set[Long]): Map[Long, String] =
    if (ids.isEmpty) Map.empty
    else {
      import s.implicits._
      val idDf = ids.toSeq.toDF("doc_id")
      Tables.documents(s, d).join(broadcast(idDf), "doc_id")
        .select(col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }

  private def fetchDocMeta(s: SparkSession, d: String,
      ids: Set[Long]): Map[Long, (String, String)] =
    if (ids.isEmpty) Map.empty
    else {
      import s.implicits._
      val idDf = ids.toSeq.toDF("doc_id")
      Tables.documents(s, d).join(broadcast(idDf), "doc_id")
        .select(col("doc_id"), col("lang"), col("text"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    }

  private def fetchVecs(s: SparkSession, d: String,
      ids: Set[Long]): Map[Long, Array[Float]] =
    if (ids.isEmpty) Map.empty
    else {
      import s.implicits._
      val idDf = ids.toSeq.toDF("vec_id")
      Tables.embeddings(s, d).join(broadcast(idDf), "vec_id")
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    }
}
