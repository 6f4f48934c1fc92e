package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over
  * `array<float>` / `array<double>` columns, with whole-stage codegen
  * (`doGenCode`) — SURVEY.md §7 "custom Catalyst work": the HOF
  * formulation (`aggregate(zip_with(...))`) evaluates interpreted,
  * allocating per row; this compiles to a tight primitive loop with
  * zero allocation, reads float inputs directly (no cast-to-double
  * array materialization), and keeps the surrounding stage inside
  * WholeStageCodegen.
  *
  * Semantics: dot(a,b) / sqrt(dot(a,a)·dot(b,b)) accumulated in
  * double, sequential element order — bit-identical to the DuckDB
  * oracle formula spelled with `list_dot_product` on `DOUBLE[]`.
  * Null if either input is null; arrays must be equal length and
  * element-nonnull (embedding vectors). A length MISMATCH throws
  * (IllegalArgumentException) rather than silently truncating to the
  * shorter vector: in a mixed-dimension corpus a truncated cosine is
  * a plausible-looking wrong answer, and the bug should surface at
  * the first row, not in downstream statistics.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def dataType: DataType = DoubleType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> or array<double> inputs, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(
      l.asInstanceOf[ArrayData], elemType(left) == FloatType,
      r.asInstanceOf[ArrayData], elemType(right) == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = $a.numElements();
         |graft.plans.CosineSimilarity.requireSameDim($n, $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The interpreted arithmetic, also called row-free by q200's MMR
    * greedy; `doGenCode` spells the same loop in Java.
    */
  def cosine(a: ArrayData, aFloat: Boolean,
      b: ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    requireSameDim(n, b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x: Double = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y: Double = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Shared by interpreted eval and generated code (called from the
    * codegen'd loop header by its JVM name — keep it a static-style
    * object method).
    */
  def requireSameDim(na: Int, nb: Int): Unit =
    if (na != nb)
      throw new IllegalArgumentException(
        s"cosine_sim: vector dimensions differ ($na vs $nb); " +
          "mixed-dimension inputs are a data bug, refusing to truncate")
}
