package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.plans.GraftFunctions

/** Round-18 native kernels: lcp_tokens (token-level LCP over
  * space-joined strings) must equal the interpreted zip_with fold it
  * replaced in the ExactSubstr family, vec_qmilli must equal the
  * interpreted transform lambda it replaced in the IVF family, and
  * the vec_dot/vec_distsq length/null semantics must match the
  * aggregate(zip_with(...)) forms they stand in for (round-17 ADVICE:
  * a shorter right or a null element yields NULL, never a crash).
  * The bounded top-k aggregate must equal `row_number()` for both id
  * types, and bad parameters of the bounded aggregates and kernels
  * must fail analysis, not the run.
  */
class VecKernelSpec extends SparkSpec {

  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  /** The replaced interpreted spelling of token-array LCP. */
  private def lcpHof(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fp = array_position(zip_with(a, b, (x, y) => x === y), lit(false))
    when(b.isNull, lit(0L))
      .when(fp > 0, fp - 1)
      .otherwise(least(size(a), size(b)).cast("long"))
  }

  test("lcp_tokens equals the zip_with fold on joined token arrays") {
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")), // identical
      (Seq("a", "b"), Seq("a", "b", "c")), // whole-token prefix
      (Seq("a", "b", "c"), Seq("a", "b")), // reversed prefix
      (Seq("ab", "c"), Seq("abc")), // byte prefix, token mismatch
      (Seq("ab"), Seq("ab", "cd")), // single-token prefix
      (Seq("ab", "c"), Seq("ab", "cd")), // mismatch inside token 2
      (Seq("x"), Seq("y")), // immediate mismatch
      (Seq("héllo", "wörld"), Seq("héllo", "wörld", "z")), // multi-byte
      (Seq("héllo", "wörld"), Seq("héllo", "wörl")), // multi-byte mismatch
      (Seq("a", "bb", "ccc", "dddd"), Seq("a", "bb", "ccc", "dddx")))
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        lcpHof(col("a"), col("b")).as("want"),
        GraftFunctions.lcpTokens(
          array_join(col("a"), " "), array_join(col("b"), " ")).as("got"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("got") == r.getAs[Long]("want"),
        s"lcp mismatch on ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}: " +
          s"got ${r.getAs[Long]("got")}, want ${r.getAs[Long]("want")}")
    }
  }

  test("lcp_tokens: null side is null (callers coalesce to 0); empty string is 0 tokens") {
    val r = spark.sql(
      "SELECT lcp_tokens('a b', CAST(NULL AS STRING)) AS n, " +
        "lcp_tokens('', 'a') AS e, lcp_tokens('a', '') AS e2").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
  }

  test("vec_qmilli equals the interpreted transform lambda bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(50)(Seq.fill(1 + rnd.nextInt(24))(rnd.nextGaussian()))
    val df = vecs.toDF("v")
      .withColumn("nrm2", GraftFunctions.vecDot(col("v"), col("v")))
      .filter(col("nrm2") > 0)
      .select(
        transform(col("v"),
          x => floor(lit(1000.0) * x / sqrt(col("nrm2")) + lit(0.5))
            .cast("long")).as("want"),
        GraftFunctions.vecQMilli(col("v"), col("nrm2")).as("got"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"qmilli mismatch: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](0)}")
    }
  }

  test("vec_dot/vec_distsq: shorter right yields NULL like the zip_with fold") {
    val r = spark.sql(
      "SELECT vec_dot(array(1L,2L,3L), array(1L,2L)) AS d, " +
        "vec_distsq(array(1L,2L,3L), array(1L,2L)) AS q, " +
        "vec_dot(array(1L,2L), array(3L,4L,5L)) AS ok").head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      "shorter right must yield NULL (the padded-fold semantics)")
    assert(r.getLong(2) == 11L, "longer right still dots over left length")
  }

  test("topk_by_score equals row_number (score DESC, id ASC) for BIGINT and STRING ids") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(500) { i =>
      (s"g${i % 4}", s"t${rnd.nextInt(40)}_${i % 7}", rnd.nextInt(20).toLong)
    }
    val raw = rows.toDF("g", "term", "score")
    // signed BIGINT ids with many score ties, so the id order decides
    Seq("STRING" -> col("term"), "BIGINT" -> xxhash64(col("term")) % 1000L)
      .foreach { case (idType, idCol) =>
        val df = raw.withColumn("id", idCol)
          .groupBy(col("g"), col("id")).agg(max(col("score")).as("score"))
        val w = Window.partitionBy(col("g"))
          .orderBy(col("score").desc, col("id"))
        val want = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("g"), col("rn").cast("long").as("rn"), col("id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
        val got = df.groupBy(col("g"))
          .agg(GraftFunctions.topkByScore(
            col("score").cast("double"), col("id"), 5).as("tk"))
          .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
          .select(col("g"), (col("pos") + 1L).as("rn"), col("e.id").as("id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
        assert(want.size == 20, s"$idType: degenerate fixture")
        assert(got == want, s"$idType ids")
      }
  }

  private def analysisError(sql: String): String =
    intercept[AnalysisException](spark.sql(sql)).getMessage

  test("topk_by_score rejects k < 1, a null or non-literal k and a DOUBLE id at analysis") {
    val t = "VALUES (1.0D, 1L, 3) AS t(s, i, n)"
    Seq(
      "topk_by_score(s, i, 0)" -> "k must be a non-null INT literal >= 1",
      "topk_by_score(s, i, -1)" -> "k must be a non-null INT literal >= 1",
      "topk_by_score(s, i, CAST(NULL AS INT))" -> "k must be a non-null INT literal >= 1",
      "topk_by_score(s, i, n)" -> "k must be an INT literal",
      "topk_by_score(s, s, 3)" -> "id must be BIGINT or STRING, got DOUBLE")
      .foreach { case (call, want) =>
        val msg = analysisError(s"SELECT $call FROM $t")
        assert(msg.contains(want), s"$call: $msg")
      }
  }

  test("freq_topk rejects k < 1 and a null k at analysis") {
    val t = "VALUES ('a') AS t(w)"
    Seq("freq_topk(w, 0, 0)", "freq_topk(w, 0, 16)", "freq_topk(w, -1, 16)",
      "freq_topk(w, CAST(NULL AS INT), 16)").foreach { call =>
      val msg = analysisError(s"SELECT $call FROM $t")
      assert(msg.contains("need non-null 1 <= k <= capacity"), s"$call: $msg")
    }
  }

  test("vec_qmilli rejects a non-array input with its type-check message") {
    val msg = analysisError("SELECT vec_qmilli(1.0D, 1.0D)")
    assert(msg.contains("vec_qmilli requires (array<float|double>, double)"), msg)
    // asking for dataType before the type check must not throw
    val q = graft.plans.VecQMilli(Literal(1.0), Literal(1.0))
    assert(q.dataType == ArrayType(LongType, containsNull = true))
    assert(q.checkInputDataTypes().isFailure)
  }

  test("vec_dot: null element in range yields NULL (fold semantics)") {
    val r = spark.sql(
      "SELECT vec_dot(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS d, " +
        "vec_dot(array(1.0D, 2.0D), array(1.0D, CAST(NULL AS DOUBLE))) AS e").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  /** q31's replaced interpreted spelling: `filter(split(s, ""))`
    * makes one string per code point, `ascii` reads it back, and
    * `aggregate` folds; the 8-gram minimum repeats that over every
    * `substr` of 8 code points.
    */
  private def foldHof(s: org.apache.spark.sql.Column, mod: Option[Long]) = {
    val codes = transform(filter(split(s, ""), ch => length(ch) > 0),
      ch => ascii(ch).cast("long"))
    mod match {
      case Some(p) => aggregate(codes, lit(0L), (a, x) => (a * 31 + x) % p)
      case None => aggregate(codes, lit(0L), (a, x) => a * 31 + x)
    }
  }

  private def minGramHof(s: org.apache.spark.sql.Column) =
    when(length(s) < 8, lit(null).cast("long"))
      .otherwise(array_min(transform(
        transform(sequence(lit(1), length(s) - 7), i => s.substr(i, lit(8))),
        g => foldHof(g, None))))

  test("poly_hash, min_gram_hash and portable_hash64 equal the interpreted HOF fold") {
    // 1-, 2-, 3- and 4-byte UTF-8 code points (U+10FFFF, the largest,
    // among them) and combining marks
    val pool = Seq(0x61, 0x5a, 0x20, 0x2e, 0x37, 0xe9, 0xdf, 0x416, 0x3c9,
      0x301, 0x308, 0x20ac, 0x4e2d, 0x3042, 0xfeff, 0x1f600, 0x1d11e, 0x10ffff)
    def str(cps: Seq[Int]): String =
      cps.map(cp => new String(Character.toChars(cp))).mkString
    val rnd = new scala.util.Random(31)
    val random = Seq.fill(300)(str(Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.size)))))
    val edges = Seq("", "abcdefg", str(Seq.fill(7)(0x1f600)), "abcdefgh",
      "é\u0301ü中😀a b", str(Seq.fill(8)(0x10ffff)), "abcdefghi",
      str(Seq.fill(9)(0x10ffff)), null)
    val texts = random ++ edges
    // the shuffle keeps the projections out of the local relation, so
    // they run in generated code
    val df = texts.zipWithIndex.toDF("s", "i").repartition(3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.sortBy(_.getInt(0)).map(r => org.apache.spark.sql.Row(r.toSeq.tail: _*))
    val want = df.select(col("i"), col("s"), foldHof(col("s"), Some(1000000007L)),
      minGramHof(col("s")), GraftFunctions.mix64(foldHof(col("s"), Some(1000000007L))))
    val got = df.select(col("i"), col("s"), GraftFunctions.polyHash(col("s")),
      GraftFunctions.minGramHash(col("s")), GraftFunctions.portableHash64(col("s")))
    val w = rows(want)
    assert(w.count(r => !r.isNullAt(2)) > 100 && w.count(r => r.isNullAt(2)) > 10,
      "fixture: both sides of the 8-code-point cut-off")
    val g = rows(got)
    val bad = g.zip(w).filter { case (a, b) => a != b }
    assert(g.size == w.size && bad.isEmpty, s"native vs HOF: ${bad.take(3)}")
    // the interpreted path (no codegen) of the same expressions
    val interpreted = texts.map { s =>
      val u = if (s == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val row = org.apache.spark.sql.catalyst.InternalRow(u)
      val in = org.apache.spark.sql.catalyst.expressions
        .BoundReference(0, org.apache.spark.sql.types.StringType, nullable = true)
      org.apache.spark.sql.Row(s,
        graft.plans.PolyHash(in).eval(row),
        graft.plans.MinGramHash(in).eval(row),
        graft.plans.PortableHash64(in).eval(row))
    }
    val badEval = interpreted.zip(w).filter { case (a, b) => a != b }
    assert(badEval.isEmpty, s"interpreted eval vs HOF: ${badEval.take(3)}")
  }

  test("poly_hash and min_gram_hash reject a non-STRING input at analysis") {
    Seq("poly_hash", "min_gram_hash").foreach { f =>
      val msg = analysisError(s"SELECT $f(1L)")
      assert(msg.contains(s"$f requires a STRING input, got BIGINT"), s"$f: $msg")
    }
  }
}
