package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Karp–Rabin polynomial fold of a string's code points,
  * `(acc*31 + cp) % 1000000007` from 0 — q31's `poly_hash`. Null in,
  * null out; the empty string folds to 0. Whole-stage codegen via the
  * shared [[KarpRabin]] kernel.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def prettyName: String = "poly_hash"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    KarpRabin.fold(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.KarpRabin.fold($v);")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Minimum, over every window of 8 consecutive code points, of the
  * unmodded fold `Σ cp[i+j]·31^(7-j)` — q31's `min_gram_hash`. NULL
  * when the string has fewer than 8 code points. Exact in a BIGINT:
  * the fold of 8 code points is at most 1114111·(31^8−1)/30 ≈ 3.2e16.
  */
case class MinGramHash(child: Expression) extends UnaryExpression {

  override def prettyName: String = "min_gram_hash"

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any = {
    val h = KarpRabin.minGram(v.asInstanceOf[UTF8String])
    if (h < 0) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.plans.KarpRabin.minGram($v);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinGramHash =
    copy(child = newChild)
}

/** The one Karp–Rabin kernel, shared by interpreted eval and generated
  * code of [[PolyHash]], [[MinGramHash]] and [[PortableHash64]]. Both
  * walks read the UTF-8 bytes once, one code point at a time, with the
  * code point boundaries of Spark's own `length`, `substr` and
  * `split(s, '')`; no per-character string is made.
  */
object KarpRabin {
  private val Base = 31L
  private val Mod = 1000000007L
  /** 31^7, the weight of the code point leaving an 8-gram. */
  private val Top = 27512614111L

  /** `(acc*31 + cp) % 1000000007` over the code points, from 0. */
  def fold(s: UTF8String): Long = {
    val len = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < len) {
      acc = (acc * Base + s.codePointFrom(i)) % Mod
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
    }
    acc
  }

  /** Minimum unmodded fold over all 8-grams of code points, or -1 when
    * there are fewer than 8. Rolls each 8-gram into the next in O(1):
    * `h' = (h − cp_out·31^7)·31 + cp_in`.
    */
  def minGram(s: UTF8String): Long = {
    val ring = new Array[Int](8)
    val len = s.numBytes()
    var h = 0L
    var min = -1L
    var seen = 0
    var i = 0
    while (i < len) {
      val cp = s.codePointFrom(i)
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      val slot = seen & 7
      if (seen >= 8) h -= ring(slot) * Top
      h = h * Base + cp
      ring(slot) = cp
      seen += 1
      if (seen >= 8 && (min < 0 || h < min)) min = h
    }
    min
  }
}
