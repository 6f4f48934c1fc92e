package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 64-bit string hash: the [[KarpRabin]] fold of the
  * string's code points (`(acc*31 + cp) % 1e9+7`, q31's `poly_hash`)
  * finished by the [[Mix64]] mixer. It equals the DuckDB
  * `list_reduce(list_transform(string_split(t,''), ascii), ...)` +
  * HUGEINT-mix oracle idiom: every step is mod-2^64 integer arithmetic
  * with constants < 2^63. Whole-stage codegen via the shared kernels.
  */
case class PortableHash64(child: Expression) extends UnaryExpression {

  override def prettyName: String = "portable_hash64"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    PortableHash64.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.PortableHash64.hash($v);")

  override protected def withNewChildInternal(newChild: Expression): PortableHash64 =
    copy(child = newChild)
}

object PortableHash64 {
  /** Shared kernel for interpreted eval and generated code. */
  def hash(s: UTF8String): Long = Mix64.mix(KarpRabin.fold(s))
}
