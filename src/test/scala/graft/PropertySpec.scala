package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based algebraic laws (SURVEY.md §5.3) — the invariants
  * the reference's design embodies, checked over generated data:
  * partition-invariance of aggregation (the R11 contract: placement
  * never changes results), combiner correctness (partial+final ==
  * direct — mapper.c:75-88 vs reducer.c:23-38 equivalence), dedup
  * idempotence, and set-op laws.
  */
class PropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val kvGen: Gen[List[(String, Long)]] =
    Gen.listOfN(60, Gen.zip(Gen.oneOf("a", "b", "c", "d", "e"), Gen.choose(-50L, 50L)))

  test("groupBy sum is invariant under repartitioning (R11 placement contract)") {
    import spark.implicits._
    check(Prop.forAll(kvGen, Gen.choose(1, 8)) { (xs, n) =>
      val expected = xs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val got = xs.toDF("k", "v").repartition(n, $"k")
        .groupBy($"k").agg(sum($"v").as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got == expected
    })
  }

  test("partial+final aggregation equals direct aggregation (combiner law)") {
    import spark.implicits._
    check(Prop.forAll(kvGen) { xs =>
      val df = xs.toDF("k", "v")
      // simulate explicit two-phase combine: per-partition partial sums
      // unioned, then final sum — must equal the one-shot groupBy
      val partial = df.repartition(4, $"k")
        .groupBy(spark_partition_id().as("p"), $"k").agg(sum($"v").as("s"))
        .groupBy($"k").agg(sum($"s").as("s"))
      val direct = df.groupBy($"k").agg(sum($"v").as("s"))
      partial.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        direct.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    })
  }

  test("dropDuplicates is idempotent") {
    import spark.implicits._
    check(Prop.forAll(kvGen) { xs =>
      val once = xs.toDF("k", "v").dropDuplicates()
      once.count() == once.dropDuplicates().count()
    })
  }

  test("set-op laws: A except A = ∅, |A union B| = |A|+|B|, intersect ⊆ both") {
    import spark.implicits._
    check(Prop.forAll(kvGen, kvGen) { (as, bs) =>
      val a = as.toDF("k", "v")
      val b = bs.toDF("k", "v")
      val exceptSelf = a.except(a).count() == 0
      val unionAll = a.union(b).count() == as.size + bs.size
      val inter = a.intersect(b).collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val interSub = inter.subsetOf(as.toSet) && inter.subsetOf(bs.toSet)
      exceptSelf && unionAll && interSub
    })
  }

  test("q15 two-pass global ranking equals the built-in single-window form") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    val builtin = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"))
      .orderBy(col("c_custkey"))
    val twoPass = Registry.byName("q15_ntile").fn(spark, sfDir)
    assert(twoPass.exceptAll(builtin).count() == 0 &&
      builtin.exceptAll(twoPass).count() == 0,
      "two-pass ntile/percent_rank diverges from the built-in window")
  }

  test("Ranking.withRank equals the built-in per-group window on random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    check(Prop.forAll(kvGen) { xs =>
      // unique tie-breaker id makes the order total (the API contract)
      val df = xs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "id")
      val got = api.Ranking.withRank(df, Seq("k"),
          Seq(col("v").desc, col("id")))
        .select(col("k"), col("id"), col("rn"), col("grp_n"))
      val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
      val want = df.select(col("k"), col("id"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy(col("k"))).as("grp_n"))
      got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0
    })
  }

  test("Ranking.withRunningTotal equals the built-in running sum, grouped and global") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // NULL group keys, zero and negative weights (q164 feeds -1 deltas)
    val rowGen: Gen[List[(Option[String], Long, Long)]] =
      Gen.listOfN(60, Gen.zip(Gen.option(Gen.oneOf("a", "b", "c")),
        Gen.choose(-20L, 20L), Gen.choose(-5L, 5L)))
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try check(Prop.forAll(rowGen) { xs =>
      val df = xs.zipWithIndex.map { case ((k, v, w), i) => (k.orNull, v, i.toLong, w) }
        .toDF("k", "v", "id", "w")
      val ok = Seq(Seq("k"), Nil).forall { groupCols =>
        val got = api.Ranking.withRunningTotal(df, groupCols,
            Seq(col("v"), col("id")), "w")
          .select(col("id"), col("cum"), col("grp_n"))
        val g = Window.partitionBy(groupCols.map(col): _*)
        val want = df.select(col("id"),
          sum(col("w")).over(g.orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum(col("w")).over(g).as("grp_n"))
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
      }
      spark.sharedState.cacheManager.clearCache()
      ok
    }) finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("Neighbors.withNeighbors equals the built-in global lag/lead on random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    check(Prop.forAll(kvGen) { xs =>
      val df = xs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "id")
      val got = api.Neighbors.withNeighbors(df,
          Seq(col("v"), col("id")), "k", "pk", "nk")
        .select(col("id"), col("pk"), col("nk"))
      // the single-reducer window is the semantic reference (fine on
      // test-sized data, the exact shape the API exists to replace)
      val w = Window.orderBy(col("v"), col("id"))
      val want = df.select(col("id"),
        lag(col("k"), 1).over(w).as("pk"),
        lead(col("k"), 1).over(w).as("nk"))
      got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0
    })
  }

  test("Neighbors.withNeighbors keeps interior null values null (boundary patch is positional)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // multi-row range partitions so interior rows exist, with null
    // values scattered through the column: a null lag on an interior
    // row must stay null, never inherit the previous partition's last
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val df = (0L until 12L)
        .map(i => (i, if (i % 3 == 1) null else s"v$i"))
        .toDF("id", "k")
      val got = api.Neighbors.withNeighbors(df, Seq(col("id")), "k", "pk", "nk")
        .select(col("id"), col("pk"), col("nk"))
      val w = Window.orderBy(col("id"))
      val want = df.select(col("id"),
        lag(col("k"), 1).over(w).as("pk"),
        lead(col("k"), 1).over(w).as("nk"))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"got=${got.orderBy("id").collect().mkString(",")}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("Neighbors.withNearestNonNull equals the global IGNORE-NULLS running scan on random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // k is null on ~2/3 of rows (the q207 shape: value present only on
    // bench-side rows); the reference is the single-reducer global
    // last(ignoreNulls) window in both directions — the exact shape
    // the API exists to replace
    val nullableGen: Gen[List[(Long, Option[String])]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(-50L, 50L),
        Gen.option(Gen.oneOf("x", "y", "z"))))
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try check(Prop.forAll(nullableGen) { xs =>
      val df = xs.zipWithIndex.map { case ((v, k), i) => (v, k.orNull, i.toLong) }
        .toDF("v", "k", "id")
      val got = api.Neighbors.withNearestNonNull(df,
          Seq(col("v"), col("id")), "k", "pk", "nk")
        .select(col("id"), col("pk"), col("nk"))
      val w = Window.orderBy(col("v"), col("id"))
      val want = df.select(col("id"),
        last(col("k"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("pk"),
        first(col("k"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("nk"))
      got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0
    }) finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("Neighbors rejects .desc order columns loudly (ascending-only contract)") {
    import spark.implicits._
    // the boundary carries compare min_by/max_by over struct(orderCols),
    // which only matches an all-ascending window sort — a .desc column
    // would silently pick the wrong boundary row, so the API refuses it
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val e1 = intercept[IllegalArgumentException] {
      api.Neighbors.withNeighbors(df, Seq(col("id").desc), "k")
    }
    assert(e1.getMessage.contains("ascending"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      api.Neighbors.withNearestNonNull(df, Seq(col("id"), col("k").desc), "k")
    }
    assert(e2.getMessage.contains("ascending"), e2.getMessage)
    // plain and explicitly-inverted (negated) columns still pass
    assert(api.Neighbors.withNeighbors(df, Seq((-col("id")).as("nid"), col("id")), "k")
      .count() == 2)
    // a CATALYST SortOrder wrapped in an ExpressionColumnNode — a
    // different Column node class than .desc's internal SortOrder node,
    // so the simple-name check alone missed it and silently produced
    // wrong boundary rows (round-12 advisor find). Build the bypass
    // object the way a catalyst-level caller would: convert .desc's
    // node to its catalyst expression, then re-wrap as an expression
    // column (ExpressionUtils is private[sql]; reflection in the test
    // only — the production guard unwraps via getMethod("expression")).
    val sortExpr = org.apache.spark.sql.catalyst.expressions.SortOrder(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("id"),
      org.apache.spark.sql.catalyst.expressions.Descending)
    val euCls = Class.forName("org.apache.spark.sql.classic.ExpressionUtils$")
    val eu = euCls.getField("MODULE$").get(null)
    val wrapped = euCls
      .getMethod("column", classOf[org.apache.spark.sql.catalyst.expressions.Expression])
      .invoke(eu, sortExpr).asInstanceOf[org.apache.spark.sql.Column]
    val e3 = intercept[IllegalArgumentException] {
      api.Neighbors.withNeighbors(df, Seq(wrapped), "k")
    }
    assert(e3.getMessage.contains("ascending"), e3.getMessage)
    // a plain expr() order column must still pass
    assert(api.Neighbors.withNeighbors(df, Seq(expr("id + 0")), "k")
      .count() == 2)
  }

  test("Ranking.withRank ranks NULL group keys as their own group (null-safe join)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (Some("a"), 3L, 1L), (Some("a"), 1L, 2L), (None, 9L, 3L),
      (None, 4L, 4L), (None, 7L, 5L), (Some("b"), 5L, 6L))
      .toDF("k", "v", "id")
    val got = api.Ranking.withRank(df, Seq("k"), Seq(col("v"), col("id")))
      .select(col("k"), col("id"), col("rn"), col("grp_n"))
    val w = Window.partitionBy(col("k")).orderBy(col("v"), col("id"))
    val want = df.select(col("k"), col("id"),
      row_number().over(w).cast("long").as("rn"),
      count(lit(1)).over(Window.partitionBy(col("k"))).as("grp_n"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"got=${got.collect().toSeq} want=${want.collect().toSeq}")
    // the NULL rows are present and ranked 1..3, not dropped
    assert(got.filter(col("k").isNull).count() == 3)
  }

  test("unpivot inverts pivot (reshaping round trip)") {
    import spark.implicits._
    check(Prop.forAll(kvGen) { xs =>
      // long → pivot wide on k ∈ {a..e} → unpivot back to long:
      // must equal the per-(k) sums of the input (pivot aggregates,
      // so the round trip lands on the aggregated long form)
      val expected = xs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val wide = xs.toDF("k", "v").groupBy(lit(1).as("g"))
        .pivot("k", Seq("a", "b", "c", "d", "e")).agg(sum($"v"))
        .na.fill(0L, Seq("a", "b", "c", "d", "e"))
      val got = wide
        .unpivot(Array($"g"), Array($"a", $"b", $"c", $"d", $"e"), "k", "v")
        .select($"k", $"v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // keys absent from xs unpivot as 0 (the fill); drop them
      got.filter(_._2 != 0L) == expected.filter(_._2 != 0L)
    })
  }

  test("tokenizer matches the reference's iswalnum/towlower semantics on fixtures") {
    import spark.implicits._
    // mapper.c:14-42: maximal alnum runs, lowercased; digits included;
    // punctuation and whitespace both delimit
    val fixture = "Hello, WORLD!  it's 42 degrees—x2  "
    val expected = Seq("hello", "world", "it", "s", "42", "degrees", "x2")
    val got = Seq(fixture).toDF("text")
      .select(explode(split(lower($"text"), "[^\\p{L}\\p{N}]+")).as("w"))
      .filter(length($"w") > 0)
      .as[String].collect().toSeq
    assert(got == expected)
  }

  test("sequence packing equals the single-window plan on random corpora") {
    import spark.implicits._
    // token counts span tiny docs to docs many times the budget, so
    // random corpora exercise multi-sequence spanning and exact fits
    val corpusGen: Gen[List[Long]] =
      Gen.listOfN(80, Gen.frequency(
        5 -> Gen.choose(1L, 30L),
        2 -> Gen.choose(30L, 64L),
        1 -> Gen.const(64L),        // exact-budget doc
        1 -> Gen.choose(150L, 400L) // spans 3+ sequences
      ))
    check(Prop.forAll(corpusGen) { ns =>
      val df = ns.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
      val w = org.apache.spark.sql.expressions.Window.orderBy($"id")
      val naive = df.withColumn("cum", sum($"n").over(w))
        .withColumn("seq_id", expr("(cum - n) div 64"))
        .withColumn("end_seq", expr("(cum - 1) div 64"))
        .withColumn("seq_offset", expr("(cum - n) % 64"))
        .select($"id", $"cum", $"seq_id", $"end_seq", $"seq_offset")
      val packed = graft.api.SequencePacker.pack(df, "id", "n", 64L)
        .select($"id", $"cum", $"seq_id", $"end_seq", $"seq_offset")
      val ok = packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty
      spark.sharedState.cacheManager.clearCache()
      ok
    })
  }

  test("Quantiles.median2 equals the sorted-multiset type-7 median, any grouping") {
    import spark.implicits._
    check(Prop.forAll(kvGen.suchThat(_.nonEmpty)) { xs =>
      {
        // reference: expand the multiset, sort, m1+m2 at the two
        // central 0-based positions — exactly 2*quantile_cont(0.5)
        val expect = xs.groupBy(_._1).map { case (g, vs) =>
          val sorted = vs.map(_._2).sorted
          val n = sorted.length
          g -> (sorted((n - 1) / 2) + sorted(n - 1 - (n - 1) / 2))
        }
        val comp = xs.toDF("g", "v").groupBy($"g", $"v")
          .agg(count(lit(1)).as("w"))
        val got = graft.api.Quantiles.median2(comp, Seq("g"), "v", "w")
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
        val ok = got == expect
        spark.sharedState.cacheManager.clearCache()
        ok
      }
    })
  }
}
