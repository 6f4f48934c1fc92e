package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native unit-norm milli quantizer (round 18) — the codegen'd
  * replacement for the IVF family's interpreted
  * `transform(v, x => floor(1000·x/sqrt(nrm2) + 0.5))` lambda
  * (q229/q236/q238 "milli quantization"): each component of `v` maps
  * to floor(1000·x/√nrm2 + 0.5) as an exact long, with `nrm2` (the
  * caller's precomputed ‖v‖², normally `vec_dot(v, v)` — it also
  * feeds the callers' `nrm2 > 0` guard) passed in so it is not
  * recomputed per row.
  *
  * Bit-exactness: the kernel performs the same IEEE double ops in the
  * same order as the HOF form — (1000.0·x)/sqrt(nrm2)+0.5, floor,
  * narrow to long — so results are identical to the expression
  * spelling and to the DuckDB oracle's `list_transform` twin. A null
  * element quantizes to a null element, exactly like the lambda.
  */
case class VecQMilli(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "vec_qmilli"

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // checkInputDataTypes rejects a non-array input; until then (some
  // analyzer paths ask for dataType first) report a nullable array
  override def dataType: DataType = left.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = true)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float|double>, double), " +
            s"got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(v: Any, n2: Any): Any =
    VecQMilli.qmilli(v.asInstanceOf[ArrayData], isFloat,
      n2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat
    nullSafeCodeGen(ctx, ev, (v, n2) =>
      s"${ev.value} = graft.plans.VecQMilli.qmilli($v, $f, $n2);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecQMilli =
    copy(left = newLeft, right = newRight)
}

object VecQMilli {
  /** Shared by interpreted eval and generated code. */
  def qmilli(v: ArrayData, isFloat: Boolean, nrm2: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    val s = math.sqrt(nrm2)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) {
        out(i) = null
      } else {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = math.floor(1000.0 * x / s + 0.5).toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
