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
}
