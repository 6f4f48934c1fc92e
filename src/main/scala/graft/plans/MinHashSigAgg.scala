package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** MinHash signature as a native `TypedImperativeAggregate`: the
  * aggregation buffer is a JVM `Array[Long]` updated in place per
  * input row and serialized ONLY at the partial/final shuffle
  * boundary — unlike a `udaf(Aggregator)` whose encoder-backed buffer
  * round-trips through an UnsafeRow on every update (measured ~2× on
  * the minhash pipeline at sf0.1).
  *
  * Input: one 64-bit shingle hash per row. Buffer: the K running
  * minima of `(h mod p)·a_i + b_i mod p`, p = 2^31-1, coefficients
  * fixed-seed (shared with the rest of the engine via
  * `MinHashSigAgg.coef`). The merge is elementwise min —
  * associative/commutative, so Spark plans partial+final aggregation
  * (map-side combine) exactly like a sum.
  */
case class MinHashSigAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  import MinHashSigAgg._

  override def prettyName: String = "minhash_sig"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT input, got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(K)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val hp = ((h % P) + P) % P
      var i = 0
      while (i < K) {
        val x = (hp * coefA(i) + coefB(i)) % P
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < K) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(K * 8)
    var i = 0
    while (i < K) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](K)
    var i = 0
    while (i < K) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSigAgg =
    copy(child = newChildren.head)
}

object MinHashSigAgg {
  val K = 64
  val P = 2147483647L // 2^31 - 1
  private[plans] val (coefA, coefB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(K)(1L + math.abs(rnd.nextLong()) % (P - 1)),
      Array.fill(K)(math.abs(rnd.nextLong()) % P))
  }

  /** The fixed-seed permutation coefficients as immutable sequences —
    * exported so an oracle (q158) can inline them as SQL literals and
    * replay the exact signature arithmetic engine-side.
    */
  def coefficients: (Seq[Long], Seq[Long]) = (coefA.toSeq, coefB.toSeq)
}
