package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k by `(score DESC, id ASC)` as a native
  * `TypedImperativeAggregate`. The aggregation buffer holds at most k
  * `(score, id)` pairs, so Spark plans it as
  * `ObjectHashAggregate(partial)` → exchange → `ObjectHashAggregate(final)`:
  * every input partition pre-trims to its LOCAL top-k before the
  * shuffle and the exchange moves ≤ k rows per (partition, group).
  *
  * This is the scale fix for "rank within a low-cardinality group"
  * (q38's 20 query ids): a `row_number()` window shuffles EVERY scored
  * row into at most |groups| reducer partitions — reducer parallelism
  * is capped at 20 forever — while this aggregate's reduce input is
  * k·mapPartitions rows regardless of corpus size. Same contract as
  * the reference's sort-merge reduce (reducer.c:23-38) specialized to
  * a bounded heap.
  *
  * The id is BIGINT (vector and node ids) or STRING (q217's top terms
  * per source), read from the input; strings compare as binary UTF-8 —
  * Spark's ORDER BY order and DuckDB's default collation alike. k must
  * be a non-null INT literal ≥ 1, checked at analysis.
  *
  * Output: `array<struct<score double, id <id type>>>` sorted
  * best-first, ties broken by ascending id — exactly the
  * `row_number() OVER (ORDER BY score DESC, id)` order, so `posexplode`
  * reconstructs the rank column.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  private lazy val idType: TopKIds = TopKIds.of(id.dataType)

  override def prettyName: String = "topk_by_score"
  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", id.dataType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: score must be DOUBLE, got ${score.dataType.sql}")
    else if (id.dataType != LongType && id.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: id must be BIGINT or STRING, got ${id.dataType.sql}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k must be an INT literal")
    else kExpr.eval() match {
      case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case n => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k must be a non-null INT literal >= 1, got $n")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, idType)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) buf.insert(s.asInstanceOf[Double], i)
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < b.n) { a.insert(b.scores(i), b.ids(i)); i += 1 }
    a
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = new GenericInternalRow(Array[Any](buf.scores(i), buf.ids(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    var bytes = 8 + buf.n * 8
    var i = 0
    while (i < buf.n) { bytes += idType.size(buf.ids(i)); i += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.k).putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)); idType.put(bb, buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt(), idType)
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      buf.scores(i) = bb.getDouble(); buf.ids(i) = idType.get(bb); i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

/** What [[TopKBuffer]] needs of an id type: its ascending order, an
  * owned copy to store, and its (de)serialized form.
  */
sealed trait TopKIds {
  def lt(a: Any, b: Any): Boolean
  def own(id: Any): Any
  def size(id: Any): Int
  def put(bb: ByteBuffer, id: Any): Unit
  def get(bb: ByteBuffer): Any
}

object TopKIds {
  def of(t: DataType): TopKIds = t match {
    case LongType => Bigint
    case StringType => Utf8
  }

  object Bigint extends TopKIds {
    def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Long] < b.asInstanceOf[Long]
    def own(id: Any): Any = id
    def size(id: Any): Int = 8
    def put(bb: ByteBuffer, id: Any): Unit = bb.putLong(id.asInstanceOf[Long])
    def get(bb: ByteBuffer): Any = bb.getLong()
  }

  object Utf8 extends TopKIds {
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0
    // the UTF8String may point into a reused row buffer
    def own(id: Any): Any = id.asInstanceOf[UTF8String].clone()
    def size(id: Any): Int = 4 + id.asInstanceOf[UTF8String].numBytes()
    def put(bb: ByteBuffer, id: Any): Unit = {
      val b = id.asInstanceOf[UTF8String].getBytes
      bb.putInt(b.length).put(b)
    }
    def get(bb: ByteBuffer): Any = {
      val b = new Array[Byte](bb.getInt())
      bb.get(b)
      UTF8String.fromBytes(b)
    }
  }
}

/** k-bounded buffer kept sorted best-first by (score DESC, id ASC);
  * rejecting a row that can't place is one comparison against the
  * current worst, an accepted row is a binary search + arraycopy —
  * O(log k + k) on the rare improving row, O(1) otherwise.
  */
final class TopKBuffer(val k: Int, idType: TopKIds) {
  val scores = new Array[Double](k)
  val ids = new Array[Any](k)
  var n: Int = 0

  @inline private def better(s1: Double, i1: Any, s2: Double, i2: Any): Boolean =
    s1 > s2 || (s1 == s2 && idType.lt(i1, i2))

  def insert(s: Double, i: Any): Unit = {
    if (n == k && !better(s, i, scores(n - 1), ids(n - 1))) return
    // binary search for the insertion point in best-first order
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (better(scores(mid), ids(mid), s, i)) lo = mid + 1 else hi = mid
    }
    val insertAt = lo
    val newN = math.min(n + 1, k)
    val toMove = newN - insertAt - 1
    if (toMove > 0) {
      System.arraycopy(scores, insertAt, scores, insertAt + 1, toMove)
      System.arraycopy(ids, insertAt, ids, insertAt + 1, toMove)
    }
    scores(insertAt) = s
    ids(insertAt) = idType.own(i)
    n = newN
  }
}
