package graft

import org.apache.spark.sql.functions._

/** Invariants of the corpus-versioning operators (q91–q94) beyond the
  * DuckDB hash oracle: merge semantics, diff conservation, the
  * leakage-safety guarantee, and Morton-curve locality.
  */
class VersioningSpec extends SparkSpec {

  test("q91 upsert applies deletes, keeps inserts past the id space, changes updated digests") {
    val out = Registry.byName("q91_changelog_upsert").fn(spark, sfDir).cache()
    try {
      val snap = Tables.documents(spark, sfDir)
      // deleted keys are absent
      val deleted = snap.filter(pmod(col("doc_id"), lit(13)) === 5)
        .select(col("doc_id"))
      assert(out.join(deleted, Seq("doc_id"), "left_semi").count() == 0)
      // inserted rows are exactly the % 17 == 2 docs, re-keyed
      val nIns = snap.filter(pmod(col("doc_id"), lit(17)) === 2).count()
      assert(out.filter(col("status") === "inserted").count() == nIns)
      assert(out.filter(col("status") === "inserted" && col("doc_id") <= 1000000L).count() == 0)
      // updated rows carry a digest different from the snapshot's
      val updDiffer = out.filter(col("status") === "updated")
        .join(snap.select(col("doc_id"), md5(col("text")).as("orig_md5")), Seq("doc_id"))
        .filter(col("content_md5") === col("orig_md5"))
      assert(updDiffer.count() == 0)
      // kept rows carry the snapshot digest unchanged
      val keptSame = out.filter(col("status") === "kept")
        .join(snap.select(col("doc_id"), md5(col("text")).as("orig_md5")), Seq("doc_id"))
        .filter(col("content_md5") =!= col("orig_md5"))
      assert(keptSame.count() == 0)
    } finally out.unpersist()
  }

  test("q92 diff statuses conserve the keyspace of both versions") {
    val out = Registry.byName("q92_snapshot_diff").fn(spark, sfDir)
    val byStatus = out.groupBy(col("status"))
      .agg(sum(col("n_docs")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val snap = Tables.documents(spark, sfDir)
    val nV1 = snap.count()
    val nDel = snap.filter(pmod(col("doc_id"), lit(13)) === 5).count()
    val nIns = snap.filter(pmod(col("doc_id"), lit(17)) === 2).count()
    // v1 = deleted + changed + unchanged; v2 = added + changed + unchanged
    assert(byStatus.getOrElse("deleted", 0L) == nDel)
    assert(byStatus.getOrElse("added", 0L) == nIns)
    assert(byStatus.values.sum == nV1 + nIns)
  }

  test("q93 split never separates a verified near-dup pair (the leakage guarantee)") {
    val split = Registry.byName("q93_leakage_safe_split").fn(spark, sfDir).cache()
    try {
      val pairs = Registry.byName("q34_minhash_lsh").fn(spark, sfDir)
        .select(col("doc_a"), col("doc_b"))
      val straddling = pairs
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
        .filter(col("sa") =!= col("sb"))
      assert(straddling.count() == 0)
      // every document is assigned exactly once
      assert(split.count() == Tables.documents(spark, sfDir).count())
      assert(split.select(col("split")).distinct().count() <= 3)
    } finally split.unpersist()
  }

  test("q234 split never separates a SEMANTIC near-dup pair (the generalized leakage guarantee)") {
    val split = Registry.byName("q234_semantic_split").fn(spark, sfDir).cache()
    try {
      val pairs = graft.queries.SimilarityQueries.semanticPairs(spark, sfDir)
      val straddling = pairs
        .join(split.select(col("vec_id").as("vec_a"), col("split").as("sa")), Seq("vec_a"))
        .join(split.select(col("vec_id").as("vec_b"), col("split").as("sb")), Seq("vec_b"))
        .filter(col("sa") =!= col("sb"))
      assert(straddling.count() == 0)
      // every vector is assigned exactly once
      assert(split.count() == Tables.embeddings(spark, sfDir).count())
      assert(split.select(col("split")).distinct().count() <= 3)
    } finally split.unpersist()
  }

  test("paraphrase fixture: q93's shingle discipline splits the pair, the semantic discipline keeps it together") {
    import spark.implicits._
    plans.GraftFunctions.register(spark)
    // same meaning, different wording: ZERO shared word 3-grams (so
    // the MinHash/n-gram pair set is empty and q93's discipline makes
    // each doc its own cluster), but the embeddings are cosine-close
    // (the paraphrase signal only SemDeDup sees). ids 7 and 8 chosen
    // so singleton clusters land in DIFFERENT splits (7%10=7 train,
    // 8%10=8 val) — the leak q234 exists to prevent.
    val docs = Seq(
      (7L, "a swift russet fox vaults across one sleepy hound"),
      (8L, "the quick brown foxes jump over the lazy dogs daily"))
      .toDF("doc_id", "text")
    // no shared shingle, verified through the real 3-gram machinery
    val sh = docs.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(split(text, ' ')) - 2), " +
        "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))")).as("g"))
    val shared = sh.alias("a").join(sh.alias("b"),
      col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
    assert(shared.count() == 0, "fixture must share no 3-gram shingle")
    // (a) q93's discipline: components over the (empty) shingle pair
    // set => singleton clusters => the pair STRADDLES train/val
    val nodes = docs.select(col("doc_id").as("id"))
    val emptyPairs = spark.range(0)
      .select(col("id").as("u"), col("id").as("v"))
    val mhComps = api.ConnectedComponents.label(nodes, emptyPairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val mhSplit = queries.DedupQueries.splitByCluster(mhComps)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(mhSplit(7L) == "train" && mhSplit(8L) == "val",
      s"shingle discipline must straddle the paraphrase pair: $mhSplit")
    // (b) the semantic discipline: cosine >= 0.85 pair => one
    // component => both sides of the paraphrase land in ONE split
    val e1 = Array(0.9f, 0.1f, 0.2f, 0.05f)
    val e2 = Array(0.88f, 0.13f, 0.22f, 0.04f) // cos(e1, e2) ~ 0.999
    val emb = Seq((7L, 0, e1), (8L, 0, e2))
      .toDF("vec_id", "label", "embedding")
    val semPairs = queries.DedupQueries
      .saltedLabelPairs(emb, queries.DedupQueries.MaxLabelBlock)
      .filter(round(plans.GraftFunctions.cosineSim(col("ea"), col("eb")), 4) >= 0.85)
      .select(col("vec_a").as("u"), col("vec_b").as("v"))
    assert(semPairs.count() == 1, "fixture pair must verify semantically")
    val semComps = api.ConnectedComponents
      .label(emb.select(col("vec_id").as("id")), semPairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val semSplit = queries.DedupQueries.splitByCluster(semComps)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(semSplit(7L) == "train" && semSplit(8L) == "train",
      s"semantic discipline must keep the paraphrase pair together: $semSplit")
  }

  test("q94 every 256-cell z-range is a 16x16 block: dim spans bounded for pruning") {
    val out = Registry.byName("q94_zorder_layout").fn(spark, sfDir)
    val bad = out.filter(
      col("x_max") - col("x_min") >= 16 || col("y_max") - col("y_min") >= 16 ||
        col("cell_span") > 256)
    assert(bad.count() == 0, "an aligned 4^4 z-range must cover exactly a 16x16 rectangle")
    // conservation: every order lands in exactly one z-file
    val total = out.agg(sum(col("n_rows"))).first().getLong(0)
    assert(total == Tables.orders(spark, sfDir).count())
  }

  test("q196 fingerprint: rollup consistency, layout invariance, content sensitivity") {
    val rows = Registry.byName("q196_dataset_fingerprint").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val M = BigInt("4611686018427387904")
    val perSource = rows.filter(_._1 != "*")
    assert(perSource.nonEmpty && rows.contains("*"))

    // the total row is the modular sum of the per-source rows
    assert(rows("*")._1 == perSource.values.map(_._1).sum)
    assert(rows("*")._2 == perSource.values.map(_._2).sum)
    assert(BigInt(rows("*")._3) ==
      perSource.values.map(v => BigInt(v._3)).sum.mod(M))

    // layout invariance: the same corpus re-sharded must fingerprint
    // identically (the property an ordered digest lacks)
    val docs = Tables.documents(spark, sfDir)
    val dir = tempDir("graft_fp")
    docs.orderBy(col("text")).repartition(13)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val reshard = Registry.byName("q196_dataset_fingerprint").fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(reshard == rows, "fingerprint must be layout/order independent")

    // sensitivity: flipping one document's text flips the fingerprint
    // of exactly its source (and the total)
    val mutDir = tempDir("graft_fp2")
    val mutatedSource = docs.orderBy(col("doc_id")).limit(1)
      .select(col("source")).head.getString(0)
    docs.withColumn("text",
        when(col("doc_id") === docs.agg(min(col("doc_id"))).head.getLong(0),
          concat(col("text"), lit(" x"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$mutDir/documents.parquet")
    val mutated = Registry.byName("q196_dataset_fingerprint").fn(spark, mutDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(mutated(mutatedSource)._3 != rows(mutatedSource)._3)
    assert(mutated("*")._3 != rows("*")._3)
    (perSource.keySet - mutatedSource).foreach { src =>
      assert(mutated(src)._3 == rows(src)._3,
        s"untouched source $src must keep its fingerprint")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("q223 vacuum plan ties out to q115 and GC is a version prefix") {
    val plan = Registry.byName("q223_vacuum_plan").fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))).toMap
    val scd = Registry.byName("q115_scd_type2").fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.getTimestamp(4)), r.getBoolean(5)))
    val wm = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val byUser = scd.groupBy(_._1)
    assert(plan.keySet == byUser.keySet)
    byUser.foreach { case (u, vs) =>
      val (n, gc, keep, from) = plan(u)
      assert(n == vs.length.toLong, s"user $u version count")
      val keepSet = vs.filter(v => v._3.isEmpty || v._3.get.after(wm))
      assert(keep == keepSet.length.toLong && gc == n - keep,
        s"user $u keep/gc partition broken")
      // effective_to is monotone in version_n, so GC'd versions form
      // exactly the prefix 1..keep_from-1 — the property that lets a
      // vacuum truncate instead of hole-punching
      assert(from == keepSet.map(_._2).min, s"user $u keep_from")
      assert(gc == from - 1L, s"user $u: GC is not a version prefix")
      // the current version always survives any watermark
      assert(vs.filter(_._4).forall(v => v._2 >= from),
        s"user $u: current version would be vacuumed")
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
