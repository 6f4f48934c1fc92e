package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed heavy hitters (`freq_topk(key, k, capacity)`) as a
  * native `TypedImperativeAggregate` over the Misra–Gries frequent-
  * items summary — the mergeable sketch behind every engine's `topK`
  * (same family as the reference's full-shuffle word count
  * generalized to bounded state, `/root/reference/src/reducer.c:23-38`).
  *
  * Why a sketch and not `wordcount`'s exact groupBy: the exact plan
  * shuffles one row PER DISTINCT KEY per map partition — on an
  * open-vocabulary 100 TB corpus that exchange is the job. This
  * aggregate keeps at most `capacity` counters per partition
  * (ObjectHashAggregate partial), so the exchange moves ≤ capacity
  * rows per partition regardless of vocabulary size, and the final
  * merge is a counter sum + one quickselect-style trim.
  *
  * Guarantees (Misra–Gries, and the Agarwal et al. mergeable-summaries
  * merge): every emitted count is an UNDERestimate with
  * `true - est ≤ N/(capacity+1)` where N is total weight; any key with
  * true frequency > N/(capacity+1) survives. When the number of
  * distinct keys never exceeds `capacity` (per partition and after
  * merges) no decrement ever fires and every count is EXACT — that is
  * the regime the DuckDB oracle hash-checks (bounded test vocabulary);
  * the constrained-capacity error bound is pinned in `SketchSpec`.
  *
  * Output: `array<struct<word string, cnt bigint>>` of the top-k
  * surviving counters sorted `(cnt DESC, word ASC)` — the
  * `row_number() OVER (ORDER BY cnt DESC, word)` order, so
  * `posexplode` reconstructs the rank column.
  */
case class FreqTopK(
    key: Expression,
    kExpr: Expression,
    capExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  private lazy val cap: Int = capExpr.eval().asInstanceOf[Number].intValue()

  override def prettyName: String = "freq_topk"
  override def children: Seq[Expression] = Seq(key, kExpr, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: key must be STRING, got ${key.dataType.sql}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be an INT literal")
    else if (!capExpr.foldable || capExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: capacity must be an INT literal")
    else (kExpr.eval(), capExpr.eval()) match {
      case (k: Int, c: Int) if k >= 1 && c >= k => TypeCheckResult.TypeCheckSuccess
      case (k, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: need non-null 1 <= k <= capacity, got k = $k, capacity = $c")
    }

  override def createAggregationBuffer(): FreqBuffer = new FreqBuffer(cap)

  override def update(buf: FreqBuffer, input: InternalRow): FreqBuffer = {
    val w = key.eval(input)
    if (w != null) buf.add(w.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(a: FreqBuffer, b: FreqBuffer): FreqBuffer = {
    b.counts.foreach { case (w, c) => a.counts.updateWith(w) {
      case Some(x) => Some(x + c)
      case None    => Some(c)
    } }
    a.trimToCapacity()
    a
  }

  override def eval(buf: FreqBuffer): Any = {
    val top = buf.counts.toArray
      .sortBy { case (w, c) => (-c, w) }
      .take(k)
    val rows = new Array[Any](top.length)
    var i = 0
    while (i < top.length) {
      rows(i) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(top(i)._1), top(i)._2))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: FreqBuffer): Array[Byte] = {
    val entries = buf.counts.toArray
    val payload = entries.map { case (w, _) => w.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(
      8 + payload.map(_.length + 12).sum)
    bb.putInt(buf.cap).putInt(entries.length)
    var i = 0
    while (i < entries.length) {
      bb.putInt(payload(i).length).put(payload(i)).putLong(entries(i)._2)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FreqBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new FreqBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val wb = new Array[Byte](len)
      bb.get(wb)
      buf.counts.update(new String(wb, StandardCharsets.UTF_8), bb.getLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqTopK =
    copy(key = newChildren(0), kExpr = newChildren(1), capExpr = newChildren(2))
}

/** Misra–Gries summary: at most `cap` counters. An absent key arriving
  * with the summary full triggers the classic decrement-all step —
  * O(cap) on that row but amortized O(1), since every decrement
  * cancels a previous increment. Merge is counter-sum followed by
  * `trimToCapacity` (subtract the (cap+1)-th largest count from every
  * counter and drop the non-positive — the mergeable-summaries rule
  * that preserves the N/(cap+1) error bound).
  */
final class FreqBuffer(val cap: Int) {
  val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty

  def add(w: String, c: Long): Unit = {
    counts.get(w) match {
      case Some(x) => counts.update(w, x + c)
      case None if counts.size < cap => counts.update(w, c)
      case None =>
        // decrement-all by the new key's weight, clamped at the
        // smallest counter so no counter goes negative mid-step
        val dec = math.min(c, counts.valuesIterator.min)
        val dead = mutable.ArrayBuffer.empty[String]
        counts.mapValuesInPlace((_, x) => x - dec)
        counts.foreach { case (k, x) => if (x <= 0L) dead += k }
        dead.foreach(counts.remove)
        val rem = c - dec
        if (rem > 0L) add(w, rem)
    }
  }

  def trimToCapacity(): Unit = {
    if (counts.size > cap) {
      val vals = counts.values.toArray
      java.util.Arrays.sort(vals)
      // (cap+1)-th largest = vals(size - cap - 1) in ascending order
      val thresh = vals(counts.size - cap - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      counts.mapValuesInPlace((_, x) => x - thresh)
      counts.foreach { case (k, x) => if (x <= 0L) dead += k }
      dead.foreach(counts.remove)
    }
  }
}
