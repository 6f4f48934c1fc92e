package graft.api

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The reference framework's user-facing contract, re-expressed as a
  * typed Spark API: `map(k1,v1) → list(k2,v2)`, shuffle by `k2`,
  * `reduce(v2,v2) → v2` — the exact surface a user of the reference
  * programs against (`map()` in `/root/reference/src/mapper.c:14-42`
  * is the one concrete map; the sort-merge sum in `reducer.c:23-38`
  * the one concrete reduce). Here both are arbitrary typed lambdas:
  *
  * {{{
  * MapReduce.run(pairs) { (k, v) => tokenize(v).map(_ -> 1L) } (_ + _)
  * }}}
  *
  * Execution: `flatMap` (map) → `groupByKey` (shuffle/partition, the
  * master's key→reducer dictionary replaced by stateless hash
  * partitioning) → `reduceGroups` (reduce, with Spark's map-side
  * partial reduction standing in for the reference's per-file
  * combiner, mapper.c:75-88). The reduce function must be
  * associative and commutative — the same algebra the reference's
  * combiner silently assumes.
  */
object MapReduce {

  def run[K1, V1, K2, V2](input: Dataset[(K1, V1)])
      (map: (K1, V1) => IterableOnce[(K2, V2)])
      (reduce: (V2, V2) => V2)
      (implicit ek2: Encoder[K2], ekv: Encoder[(K2, V2)]): Dataset[(K2, V2)] =
    input
      .flatMap { case (k, v) => map(k, v) }
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, reduce(a._2, b._2)))
      .map(_._2)

  /** SECONDARY SORT — the other classic MapReduce reduce contract
    * (Hadoop's composite-key + grouping-comparator pattern): shuffle
    * by key, sort each key's VALUES, hand the reducer one ordered
    * value stream per key. The reference's sort-based reduce
    * (`reducer.c:23-38` sorts then merges adjacent equal keys)
    * already delivers key-grouped runs; this generalizes the run to
    * be value-ordered so order-sensitive reductions (deltas,
    * sessionization, first/last) need no window and no per-key
    * buffering.
    *
    * Execution: `repartition(key)` (one hash exchange — every row of
    * a key lands in one partition) → `sortWithinPartitions(key,
    * value)` (Spark's sort-based shuffle machinery, no extra
    * exchange) → `mapPartitions` with a streaming grouped iterator:
    * the reducer sees each key's values as a lazy Iterator, O(1)
    * driver/executor state beyond the reducer's own — a key's run is
    * never materialized unless the reducer itself collects it. The
    * value type must be Catalyst-orderable (atomic or struct of
    * atomics, compared field-by-field).
    *
    * Key-run boundaries are detected with STRUCTURAL equality
    * ([[keyEq]]) so it matches the grouping the sort produced:
    * `Array[Byte]` keys compare element-wise (universal `==` on
    * arrays is reference identity and would split every run),
    * Float/Double NaN compares equal to itself (the sort orders NaN
    * as one key), and Products recurse field-wise. Keys outside
    * those shapes must have value-semantic `equals` consistent with
    * their Catalyst ordering — true for all atomics, Strings,
    * tuples and case classes thereof.
    */
  def runSorted[K, V, O](input: Dataset[(K, V)])
      (reducer: (K, Iterator[V]) => O)
      (implicit eo: Encoder[O]): Dataset[O] = {
    // normalize column names (callers may pass aliased columns); the
    // tuple encoder's own field names are _1/_2
    val sorted = input.toDF("_1", "_2").as[(K, V)](input.encoder)
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
    sorted.mapPartitions { it =>
      val b = it.buffered
      new Iterator[O] {
        def hasNext: Boolean = b.hasNext
        def next(): O = {
          val k = b.head._1
          val run = new Iterator[V] {
            def hasNext: Boolean = b.hasNext && keyEq(b.head._1, k)
            def next(): V = b.next()._2
          }
          val o = reducer(k, run)
          while (run.hasNext) run.next() // drain unconsumed tail
          o
        }
      }
    }
  }

  /** Value-structural equality matching the shuffle's sort order:
    * arrays element-wise, NaN == NaN (total IEEE order, as the sort
    * uses), Products field-wise, everything else via `equals`.
    */
  private[graft] def keyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => keyEq(x(i), y(i)))
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Product, y: Product) =>
      x.productArity == y.productArity &&
        x.productIterator.zip(y.productIterator).forall { case (u, v) => keyEq(u, v) }
    case (x, y) => x == y
  }

  /** The reference's one built-in job — Unicode word count over a
    * directory of text files read whole (mapper.c:44-117) — on the
    * generic contract above: input records are (filename, contents),
    * map emits lowercase alnum-run tokens with count 1, reduce sums.
    * Folding is the SIMPLE 1:1 mapping (İ pre-substituted before the
    * JVM lower, as in `functions.TextFunctions.tokensSimple`), matching
    * the reference's `towlower` (mapper.c:28) and the `wordcount`
    * query byte-for-byte on every input.
    */
  def wordCount(spark: SparkSession, dir: String): Dataset[(String, Long)] = {
    import spark.implicits._
    val files = spark.read.option("wholetext", true).text(dir)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
    run(files) { (_, contents) =>
      contents.replace('İ', 'i').toLowerCase.split("[^\\p{L}\\p{N}]+").iterator
        .filter(_.nonEmpty).map(_ -> 1L)
    }(_ + _)(Encoders.STRING, Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
  }
}
