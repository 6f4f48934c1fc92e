package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.plans.GraftFunctions

/** Physical-plan quality gates (SURVEY.md §4): predicate pushdown and
  * column pruning reach the parquet scan, dimension joins broadcast,
  * aggregations are partial+final, and the native cosine expression
  * matches the HOF formulation bit-for-bit while staying inside
  * whole-stage codegen. These are the properties that decide whether
  * a plan survives a 1000-executor scale-up, asserted on the actual
  * executed plans.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
      s"filter not pushed: $scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"),
      "column pruning failed — scan reads unprojected columns")
  }

  test("star-schema dimension joins broadcast (no shuffle for small sides)") {
    val plan = planString(SparkEntry.entry(spark))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins in the flagship star query:\n$plan")
  }

  test("groupBy aggregation plans partial+final HashAggregate (map-side combine)") {
    val df = Registry.byName("q01_pricing_summary").fn(spark, sfDir)
    val plan = planString(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregate:\n$plan")
  }

  test("q09 range join contains a real join node (BroadcastNestedLoopJoin)") {
    val df = Registry.byName("q09_range_join").fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected a non-equi join node in q09's plan:\n$plan")
  }

  test("q09 range join equals its equi rewrite row-for-row") {
    val bnlj = Registry.byName("q09_range_join").fn(spark, sfDir)
    val equi = queries.RelationalQueries.q09EquiRewrite(spark, sfDir)
    assert(bnlj.exceptAll(equi).count() == 0 && equi.exceptAll(bnlj).count() == 0,
      "BNLJ range join and equi band-key rewrite disagree")
  }

  test("q58 plans a genuine right-outer (or equivalent outer) join") {
    val df = Registry.byName("q58_right_outer").fn(spark, sfDir)
    // Catalyst may flip RightOuter to LeftOuter with swapped sides —
    // either marker proves the outer join survived optimization
    val plan = planString(df)
    assert(plan.contains("RightOuter") || plan.contains("LeftOuter"),
      s"expected an outer join in q58's plan:\n$plan")
  }

  test("q38 ranks via partial top-k aggregate, not a per-group window") {
    val df = Registry.byName("q38_cosine_topk").fn(spark, sfDir)
    val plan = planString(df)
    // partial+final ObjectHashAggregate means each input partition
    // pre-trims to local top-k BEFORE the exchange — reducer
    // parallelism no longer capped at |query ids|
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final top-k aggregate:\n$plan")
    assert(plan.contains("topk_by_score"), s"topk_by_score not in plan:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      s"q38 must not rank through a window:\n$plan")
  }

  test("q62 interval join is an equi join with a range residual, not a cross product") {
    val df = Registry.byName("q62_attribution").fn(spark, sfDir)
    val plan = planString(df)
    // user_id equality must drive the join (hash/merge/broadcast-hash);
    // the time range stays a residual predicate — a nested-loop or
    // cartesian here would be quadratic in events per scale-up
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q62 degenerated to an all-pairs join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed join in q62's plan:\n$plan")
  }

  test("q61 curation pipeline dedups through a left-semi join") {
    val df = Registry.byName("q61_curation_pipeline").fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("LeftSemi"),
      s"expected the dedup keeper semi join in q61's plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q61 must stay equi-join shaped:\n$plan")
  }

  test("q64 unpivot plans as Expand (no join, no shuffle before the sort)") {
    val df = Registry.byName("q64_unpivot").fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("Expand"), s"expected Expand in q64's plan:\n$plan")
    assert(!plan.contains("Join"), s"unpivot must not join:\n$plan")
  }

  test("q239 code-switch is pure map-side: no join, no aggregate exchange before the sort") {
    val df = Registry.byName("q239_code_switch").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Join"), s"q239 must not join:\n$plan")
    assert(!plan.contains("HashAggregate"), s"q239 must not aggregate:\n$plan")
    // exactly one exchange: the rangepartitioning for the output sort
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"q239 must shuffle only for the sort, got $exchanges:\n$plan")
  }

  test("q241 context frontier is one scan + broadcast grid + one aggregate exchange") {
    val df = Registry.byName("q241_context_frontier").fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 4-row candidate grid must broadcast:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"q241 must scan the corpus once, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("native cosine_sim equals the HOF cosine bit-for-bit") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(100)
      .select(col("vec_id"), col("embedding"))
    val both = e.alias("a").crossJoin(e.alias("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("native"),
        VectorFunctions.cosine(
          VectorFunctions.toDouble(col("a.embedding")),
          VectorFunctions.toDouble(col("b.embedding"))).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native and HOF cosine diverge")
  }

  test("cosine_sim runs inside WholeStageCodegen") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val df = e.select(
      GraftFunctions.cosineSim(col("embedding"), col("embedding")).as("c"))
    val plan = planString(df)
    // `*(N)` prefixes mark operators inside WholeStageCodegen stage N;
    // the Project holding cosine_sim must carry one (an expression
    // without doGenCode would fall back and lose the marker)
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(plan).isDefined,
      s"cosine_sim fell out of the codegen span:\n$plan")
  }

  test("cosine_sim refuses mismatched vector dimensions (no silent truncation)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // data-driven arrays so the check exercises the generated code
    // path, not constant folding
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val e = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("dimensions differ")),
      s"expected a loud dimension-mismatch failure, got: $e")
  }

  test("cosine_sim resolves through SQL after extension registration") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_v").collect()
    assert(r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-9))
  }

  test("similar_to inner join rewrites to the LSH band equi join (no BNLJ)") {
    GraftFunctions.register(spark)
    val t = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val joined = a.join(b,
      GraftFunctions.similarTo(col("ea"), col("eb"), 0.45) &&
        col("vec_a") < col("vec_b"))
    val plan = planString(joined)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"similarity join stayed quadratic:\n$plan")
    assert(plan.contains("Generate") && plan.contains("lsh_sig"),
      s"expected the band explode in the rewritten plan:\n$plan")
    assert(plan.contains("similar_verify"),
      s"expected the exact verify stage in the rewritten plan:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"),
      s"expected the dedup aggregate in the rewritten plan:\n$plan")
  }

  test("similar_to rewrite emits only true pairs and finds all high-sim pairs") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // 30 base vectors + 10 planted near-identical dups (cos ≈ 0.9999)
    val dim = 16
    val rnd = new scala.util.Random(11)
    val base = (0 until 30).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 10).map(i =>
      (100L + i, base(i)._2.map(x => x * 1.0001f)))
    val t = (base ++ dups).toDF("vec_id", "embedding")
    val a = t.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = t.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val got = a.join(b,
      GraftFunctions.similarTo(col("ea"), col("eb"), 0.99) &&
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: every emitted pair really passes the exact predicate
    val brute = a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4) >= 0.99)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute), s"rewrite emitted false pairs: ${got.diff(brute)}")
    // recall on the planted near-dups (cos ≈ 1 → band miss ~0)
    val want = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert(want.subsetOf(got), s"rewrite missed planted dups: ${want.diff(got)}")
  }

  test("similar_to outside a join evaluates exactly (fallback semantics)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
      .select(GraftFunctions.similarTo(col("a"), col("b"), 0.5).as("m"))
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, false))
  }

  test("similar_to join is SQL-callable and rewritten there too") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView("emb_sim")
    val df = spark.sql(
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM emb_sim a JOIN emb_sim b
        |  ON similar_to(a.embedding, b.embedding, 0.45D)
        | AND a.vec_id < b.vec_id""".stripMargin)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"SQL-path similarity join stayed quadratic:\n$plan")
    assert(df.count() > 0)
  }

  private def fuzzyFixture = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the rivers!"
    Seq(
      (1L, base),
      (2L, base.updated(5, 'x').updated(20, 'x').updated(40, 'x').updated(58, 'x')),
      (3L, ("XX" + base).take(60)),   // front inserts: alignment shift
      (4L, base.drop(2) + "zz"),      // front deletes: alignment shift
      (5L, base.updated(1, '#').updated(13, '#').updated(25, '#')
        .updated(37, '#').updated(49, '#')) // dist 5: must be excluded
    ).toDF("id", "s")
  }

  test("fuzzy_match inner join rewrites to the PassJoin segment equi join (no BNLJ)") {
    GraftFunctions.register(spark)
    val l = fuzzyFixture.toDF("id_a", "s_a")
    val r = fuzzyFixture.toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4) &&
        col("id_a") < col("id_b"))
    val plan = planString(joined)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy_match join stayed quadratic:\n$plan")
    assert(plan.contains("fuzzy_verify"), s"exact verify filter missing:\n$plan")
  }

  test("fuzzy_match rewrite equals brute force exactly (shift cases included)") {
    GraftFunctions.register(spark)
    val l = fuzzyFixture.toDF("id_a", "s_a")
    val r = fuzzyFixture.toDF("id_b", "s_b")
    val got = l.join(r,
        GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4) &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val brute = l.join(r,
        levenshtein(col("s_a"), col("s_b")) <= 4 && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == brute, s"rewrite != brute force: got=$got brute=$brute")
    assert(got.contains((1L, 3L)) && got.contains((1L, 4L)),
      "alignment-shift pairs missing from the rewritten join")
    assert(!got.contains((1L, 5L)), "distance-5 decoy leaked through verify")
  }

  test("fuzzy_match rewrite filters NULL strings before banding (no hash-of-index collision class)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // xxhash64 SKIPS null children, so an unfiltered NULL string would
    // band under hash(segment index) alone and every NULL row would
    // collide into the same k+1 buckets — quadratic candidates in the
    // NULL count (round-12 advisor find). The rewrite must filter NULLs
    // pre-explode; output is unchanged because fuzzy_match(NULL, _) is
    // null ⇒ the inner join drops the row either way.
    val base = "the quick brown fox jumps over the lazy dog near the rivers!"
    val withNulls = Seq((1L, base), (2L, base.updated(5, 'x')),
      (6L, null.asInstanceOf[String]), (7L, null.asInstanceOf[String]),
      (8L, null.asInstanceOf[String])).toDF("id", "s")
    val l = withNulls.toDF("id_a", "s_a")
    val r = withNulls.toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4) &&
        col("id_a") < col("id_b"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("isnotnull"),
      s"NULL strings must be filtered before segment banding:\n$plan")
    val got = joined.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"null rows must never pair: $got")
  }

  test("keyed fuzzy_match rewrites to the slim band join + key-pair dedup + re-fetch") {
    GraftFunctions.register(spark)
    val l = fuzzyFixture.toDF("id_a", "s_a")
    val r = fuzzyFixture.toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4,
        col("id_a"), col("id_b")) && col("id_a") < col("id_b"))
    val plan = planString(joined)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"keyed fuzzy_match join stayed quadratic:\n$plan")
    assert(plan.contains("fuzzy_verify"), s"exact verify filter missing:\n$plan")
    // the band fan-out must carry (key, segment-hash) ONLY — the
    // string payload is re-fetched post-dedup, so no attribute of the
    // exploded sides' Exchange input may be a string
    val opt = joined.queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(gens.nonEmpty, s"segment Generate missing:\n$opt")
    val slimProjects = opt.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate] &&
            p.output.size == 2 &&
            p.output.forall(_.dataType == org.apache.spark.sql.types.LongType) => p
    }
    assert(slimProjects.size == 2,
      s"banded sides must be slimmed to 2 long columns each:\n$opt")
    // and the output equals brute force, INCLUDING the shift pairs
    val got = joined.select(col("id_a"), col("id_b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val brute = l.join(r,
        levenshtein(col("s_a"), col("s_b")) <= 4 && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == brute, s"keyed rewrite != brute force: got=$got brute=$brute")
    assert(got.contains((1L, 3L)) && got.contains((1L, 4L)),
      "alignment-shift pairs missing from the keyed rewrite")
  }

  test("keyed fuzzy_match preserves BAG semantics under duplicate keys and rows") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // two left rows SHARE key 1 with different strings; the right side
    // has a duplicate row under one key. The keyed rewrite dedups KEY
    // pairs then re-fetches every row combination, so multiplicities
    // must match the honest nested-loop join exactly (bag equality).
    val base = "the quick brown fox jumps over the lazy dog near the rivers!"
    val l = Seq((1L, base), (1L, base.updated(2, 'q')), (2L, base))
      .toDF("id_a", "s_a")
    val r = Seq((7L, base), (7L, base), (8L, ("XX" + base).take(60)))
      .toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4,
        col("id_a"), col("id_b")))
      .select(col("id_a"), col("id_b"))
    val brute = l.join(r,
        levenshtein(col("s_a"), col("s_b")) <= 4)
      .select(col("id_a"), col("id_b"))
    val gotBag = joined.collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val bruteBag = brute.collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(gotBag == bruteBag,
      s"keyed rewrite bag != brute bag: got=$gotBag brute=$bruteBag")
    // sanity: duplicates genuinely exercised (multiplicity > 1 exists)
    assert(bruteBag.values.exists(_ > 1), s"fixture lost its duplicates: $bruteBag")
  }

  test("unkeyed fuzzy_match routes through the slim recipe (synthetic hash key) with exact bag semantics") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the unkeyed form synthesizes key = xxhash64(string): the band
    // fan-out must be slimmed to (key, segment-hash) longs exactly like
    // the keyed form — the payload no longer rides the probe explode —
    // and duplicate rows (which COLLAPSE to one synthetic key, then
    // re-expand through the re-fetch) must keep bag multiplicities
    val base = "the quick brown fox jumps over the lazy dog near the rivers!"
    val l = Seq((1L, base), (2L, base), (3L, base.updated(2, 'q')))
      .toDF("id_a", "s_a")
    val r = Seq((7L, base), (7L, base), (8L, ("XX" + base).take(60)))
      .toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 4))
      .select(col("id_a"), col("id_b"))
    val opt = joined.queryExecution.optimizedPlan
    val slimProjects = opt.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Generate] &&
            p.output.size == 2 &&
            p.output.forall(_.dataType == org.apache.spark.sql.types.LongType) => p
    }
    assert(slimProjects.size == 2,
      s"unkeyed banded sides must be slimmed to 2 long columns each:\n$opt")
    val gotBag = joined.collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val bruteBag = l.join(r, levenshtein(col("s_a"), col("s_b")) <= 4)
      .select(col("id_a"), col("id_b"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(gotBag == bruteBag,
      s"unkeyed rewrite bag != brute bag: got=$gotBag brute=$bruteBag")
    assert(bruteBag.values.exists(_ > 1), s"fixture lost its duplicates: $bruteBag")
  }

  test("keyed fuzzy_match is SQL-callable with 5 args and rewritten there too") {
    GraftFunctions.register(spark)
    fuzzyFixture.createOrReplaceTempView("fuzzy_docs_k")
    val df = spark.sql(
      """SELECT a.id AS id_a, b.id AS id_b
        |FROM fuzzy_docs_k a JOIN fuzzy_docs_k b
        |  ON fuzzy_match(a.s, b.s, 4, a.id, b.id) AND a.id < b.id""".stripMargin)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"SQL keyed fuzzy_match stayed quadratic:\n$plan")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.contains((1L, 3L)) && !got.contains((1L, 5L)), got.toString)
  }

  test("fuzzy_match beyond MaxRewriteDistance falls back to the exact nested-loop join") {
    GraftFunctions.register(spark)
    val l = fuzzyFixture.toDF("id_a", "s_a")
    val r = fuzzyFixture.toDF("id_b", "s_b")
    val joined = l.join(r,
      GraftFunctions.fuzzyMatch(col("s_a"), col("s_b"), 50) &&
        col("id_a") < col("id_b"))
    val plan = planString(joined)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"k=50 should not band-rewrite (probe fan-out would explode):\n$plan")
    // the fallback is still exact: k=50 admits every pair here
    assert(joined.count() == 10)
  }

  test("fuzzy_match outside a join evaluates exactly (fallback semantics)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("kitten", "kitten"), ("ab", "wxyz"))
      .toDF("a", "b")
      .select(GraftFunctions.fuzzyMatch(col("a"), col("b"), 3).as("m"))
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, true, false))
  }

  test("fuzzy_match join is SQL-callable and rewritten there too") {
    GraftFunctions.register(spark)
    fuzzyFixture.createOrReplaceTempView("fuzzy_docs")
    val df = spark.sql(
      """SELECT a.id AS id_a, b.id AS id_b
        |FROM fuzzy_docs a JOIN fuzzy_docs b
        |  ON fuzzy_match(a.s, b.s, 4)
        | AND a.id < b.id""".stripMargin)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"SQL-path fuzzy join stayed quadratic:\n$plan")
    assert(df.count() > 0)
  }

  test("q80 sequence packing plans no global single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val df = Registry.byName("q80_sequence_pack").fn(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow => w
    }
    assert(windows.nonEmpty, "expected the per-partition cumsum window in q80's plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q80 contains a global window — the corpus would funnel through ONE reducer")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q96 textrank ranks via TakeOrdered, never a full-vocab global window") {
    val df = Registry.byName("q96_textrank").fn(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k (TakeOrderedAndProject) in q96:\n$plan")
    // the only Window sorts the 30 survivors AFTER the limit
    val windowIdx = plan.indexOf("Window")
    val takeIdx = plan.indexOf("TakeOrderedAndProject")
    assert(windowIdx < takeIdx,
      "q96's rank window must sit above the limit, not under it")
  }

  test("q97 funnel plans with zero window operators (staged aggregation only)") {
    val df = Registry.byName("q97_funnel").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      s"funnel should be joins+aggregates, found a window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "expected partial+final aggregates per funnel stage")
  }

  test("q94 zorder interleave stays inside whole-stage codegen (no UDF, one agg exchange)") {
    val df = Registry.byName("q94_zorder_layout").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "zorder must be pure codegen'd bit arithmetic")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, // groupBy(zfile) + determinism ORDER BY
      s"q94 should shuffle once for the aggregate (plus the sort): found $exchanges\n$plan")
  }

  test("q91 upsert is one join exchange pair on the key (no window, no extra shuffle)") {
    val df = Registry.byName("q91_changelog_upsert").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Window"), "upsert must not need a window")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi join for the merge:\n$plan")
  }

  test("q109 median gate never buffers per-group values (no exact percentile agg)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val df = Registry.byName("q109_median_filter").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.toLowerCase.contains("percentile"),
      s"q109 must compute the median from compressed counts, not percentile():\n$plan")
    // the cumulative window runs on the compressed (lang, value) rows,
    // partitioned by lang — never a global window over the corpus
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "q109's cumulative window must be lang-partitioned metadata work")
  }

  test("q110 centroid drift is one (label, dim) exchange on integer sums") {
    val df = Registry.byName("q110_centroid_drift").fn(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"drift should be pure partial+final aggregation:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "expected partial+final pairs for the (label, dim) and label aggregates")
  }

  test("q111 curriculum staging plans no global single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val df = Registry.byName("q111_curriculum_stages").fn(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow => w
    }
    assert(windows.nonEmpty, "expected the per-partition cumsum window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q111 contains a global window — the corpus would funnel through ONE reducer")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q101/q102 secondary-sort queries plan zero Window operators") {
    for (name <- Seq("q101_secondary_sort", "q102_skyline")) {
      val plan = planString(Registry.byName(name).fn(spark, sfDir))
      // the whole point of runSorted: the order-sensitive reduce rides
      // the shuffle's own sort — a Window node would mean we fell back
      assert(!plan.contains("Window"),
        s"$name should reduce over the sorted shuffle, found a window:\n$plan")
      assert(plan.contains("Sort"),
        s"$name expected a within-partition sort:\n$plan")
    }
  }

  test("q100 triangles: every join keyed, no cartesian, no window") {
    val df = Registry.byName("q100_triangles").fn(spark, sfDir)
    val plan = planString(df)
    // the wedge self-join and the closing-edge join must both be
    // equi joins — a cartesian anywhere is quadratic in |E| at scale
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration degenerated to all-pairs:\n$plan")
    assert(!plan.contains("Window"),
      s"triangle counting needs no window:\n$plan")
  }

  test("q60/q35 pin their compute-heavy stages' parallelism against byte-based sizing") {
    // AQE and the file-layout partitioner size stages by INPUT BYTES;
    // q60's LSH band-verify and q35's per-token hashing + band
    // self-join are compute-bound on byte-tiny inputs, so without a
    // pinned repartition they run in 1-2 tasks (q60 measured 2.3 s
    // serial of its 2.6 s at sf0.1). REPARTITION_BY_NUM is the only
    // shuffle origin AQE will not coalesce — assert it survives in
    // both plans so the fix can't silently regress.
    for (name <- Seq("q60_hyperplane_lsh", "q35_simhash")) {
      val plan = planString(Registry.byName(name).fn(spark, sfDir))
      assert(plan.contains("REPARTITION_BY_NUM"),
        s"$name lost its pinned repartition (AQE will serialize the hot stage):\n$plan")
    }
  }

  test("q128 pre-aggregates lineitem BELOW the orders join (reduce-before-join)") {
    // one (l_orderkey, order_cents) row per order crosses the join
    // instead of one row per lineitem — the shuffle shrinks by the
    // lines-per-order factor at any scale. In the printed tree a
    // child renders below its parent, so the per-order HashAggregate
    // must appear AFTER the join node that consumes it.
    val plan = planString(Registry.byName("q128_yoy_growth").fn(spark, sfDir))
    val joinIdx = plan.indexOf("Join")
    val orderAggIdx = plan.indexOf("HashAggregate(keys=[l_orderkey")
    assert(joinIdx >= 0, s"q128 lost its orders join:\n$plan")
    assert(orderAggIdx > joinIdx,
      s"q128's per-order pre-aggregation must sit below the join:\n$plan")
  }

  test("no registered query plans a CartesianProduct (suite-wide hygiene gate)") {
    // CartesianProductExec is the shuffle-based DATA×DATA cross join —
    // quadratic at scale, never acceptable. BroadcastNestedLoopJoin is
    // deliberately NOT banned: the suite's crossJoin(broadcast(tiny))
    // idiom (1-row totals, 10-row spines, bounded stat relations)
    // plans as BNLJ and is the intended metadata-distribution shape.
    val offenders = Registry.queries.flatMap { q =>
      val plan = planString(q.fn(spark, sfDir))
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a data-sized cartesian: ${offenders.mkString(", ")}")
  }

  test("no registered query plans a DATA-sized unpartitioned window (suite-wide gate)") {
    // An unpartitioned Window funnels its whole input through ONE
    // task. That is fine on METADATA (post-limit survivors, value-
    // compressed counts, calendar spines) and a scale-killer on the
    // corpus. Structural proxy for "provably metadata-sized": every
    // leaf-to-window path passes through a cardinality compressor
    // (Aggregate / Limit / constant-size leaf) — a raw scan→window
    // has no such node and fails. This is the q80/q109/q111 per-query
    // gate made suite-wide; the WindowExec WARN suppression in
    // SparkSpec is justified by exactly this gate.
    // gate on the ANALYZED plan: cache substitution (withCachedData)
    // would replace Reuse.query-scoped aggregates with opaque
    // InMemoryRelation leaves and hide the compressor that proves the
    // window metadata-sized
    import org.apache.spark.sql.catalyst.plans.logical._
    def compressed(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: Distinct => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case j: Join => compressed(j.left) && compressed(j.right)
      case l: LeafNode => false // parquet scan / checkpointed corpus RDD
      case o => o.children.nonEmpty && o.children.forall(compressed)
    }
    // Checkpointed METADATA memos are opaque LogicalRDD leaves the
    // structural proxy cannot see through (localCheckpoint is load-
    // bearing: it survives the per-query clearCache that Verify runs,
    // which a scoped persist would not). Each allowlisted window input
    // is bounded by TIME SPAN, never data volume:
    //  - q189: the hourlySeries spine — |hours in corpus span| rows
    //  - q201: the monthly series and its theta pairs — |months| and
    //    |months|² rows
    val checkpointedMetadata = Set("q189_cusum_changepoint", "q201_theil_sen")
    val offenders = Registry.queries.flatMap { q =>
      val ws = q.fn(spark, sfDir).queryExecution.analyzed.collect {
        case w: Window if w.partitionSpec.isEmpty && !compressed(w.child) => w
      }
      spark.sharedState.cacheManager.clearCache()
      if (ws.nonEmpty && !checkpointedMetadata(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries windowing uncompressed data in one partition: ${offenders.mkString(", ")}")
  }

  test("q119/q152/q251 plan with no unsupported join-hint warning") {
    // Spark drops a broadcast() on the preserved side of an outer join
    // and says so through HintErrorLogger at physical planning
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "hint-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(org.apache.logging.log4j.Level.WARN)
    try {
      Seq("q119_fk_discovery", "q152_ndcg_eval", "q251_fdr_control").foreach { q =>
        Registry.byName(q).fn(spark, sfDir).queryExecution.executedPlan
      }
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    val unsupported =
      msgs.toArray.map(_.toString).filter(_.contains("is not supported"))
    assert(unsupported.isEmpty,
      s"hints Spark dropped: ${unsupported.mkString("; ")}")
  }

  test("q31 fingerprint plans no higher-order function or lambda") {
    val df = Registry.byName("q31_fingerprint").fn(spark, sfDir)
    df.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val lambdas = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => e.prettyName
        case e: org.apache.spark.sql.catalyst.expressions.LambdaFunction => e.prettyName
      })
    }.flatten.distinct
    assert(lambdas.isEmpty, "q31 runs interpreted lambdas")
  }
}
