package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING — the iterative merge-learning loop, not
  * just merge application. The reference pipeline tokenizes with a
  * fixed regex (q66); training the vocabulary itself is the one
  * tokenizer-side job a 100 TB corpus actually runs at corpus scale.
  *
  * Scale shape (the same one reference-grade trainers use): the corpus
  * is scanned ONCE to build the word-frequency table — one shuffle on
  * the word — and that table is the ONLY thing that ever leaves the
  * cluster. The vocabulary is bounded metadata (distinct words, capped
  * further by `minCount` on noisy corpora), orders of magnitude below
  * corpus size, so it is collected once and the merge loop runs
  * driver-local with incremental pair-count maintenance: learning a
  * merge touches only the words that contain the merged pair, exactly
  * like the fast Sennrich-style trainers. After the single collect the
  * loop launches ZERO Spark jobs per merge (pinned in
  * `BpeTrainerSpec`), so a 32k–50k-merge vocabulary is CPU-bound on
  * the driver instead of scheduler-bound on tens of thousands of
  * sequential cluster round-trips — the round-5 scale gap this
  * design removes.
  */
object BpeTrainer {

  /** One learned merge: rank k means it was the k-th most frequent
    * adjacent pair (1-based), with its weighted count at learn time.
    */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Initial character-level symbols of a word: one symbol per Unicode
    * CODEPOINT (the alphabet BPE specifies), never per UTF-16 code
    * unit — splitting a surrogate pair would seed the trainer with
    * two unpairable half-symbols and diverge from any byte/codepoint
    * tokenizer twin (fuzz `unicode` variant, SURVEY §5 class D).
    */
  private[graft] def charSyms(w: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toSeq
  }

  /** Left-to-right single-pass application of one merge to a symbol
    * sequence — the sequential semantics BPE specifies ("aaa" with
    * merge (a,a) → ["aa","a"], not ["a","aa"]).
    */
  private[graft] def applyMerge(
      syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** The one corpus-scale pass: whitespace word pre-tokenization →
    * word-frequency table (one shuffle on the word). Shared by
    * [[train]] and the q95 oracle query so both check the same scan.
    */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(split(col(textCol), " "), t => length(t) > 0))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Learns `nMerges` BPE merges from `df`'s `textCol` (whitespace
    * word pre-tokenization, character-level initial symbols).
    * Deterministic: ties broken by (left, right) ascending.
    *
    * `minCount` drops words rarer than the floor BEFORE the collect —
    * the standard vocabulary bound for web-scale corpora where the
    * distinct-word tail (typos, hashes) is huge but irrelevant to the
    * learned merges' head.
    */
  def train(
      df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L): Seq[Merge] = {
    // corpus scan #1 and only; the collect is bounded vocab metadata,
    // not corpus data. Everything after is driver-local.
    val freq = wordFrequencies(df, textCol)
      .where(col("n") >= minCount)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    trainLocal(freq, nMerges)
  }

  /** Driver-local merge loop with incremental pair-count maintenance:
    * `counts` holds every adjacent pair's weighted frequency and
    * `occurs` maps each pair to the word ids containing it, so one
    * merge re-counts ONLY the affected words (classic fast-BPE
    * shape). Result is independent of `wordFreq` ordering: counts are
    * sums, the argmax tie-break ((count DESC, left, right)) is a
    * total order, and per-word merge application is independent.
    */
  private[graft] def trainLocal(
      wordFreq: Seq[(String, Long)], nMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val words = wordFreq.map { case (w, n) =>
      (mutable.ArrayBuffer[String](charSyms(w): _*), n)
    }.toArray

    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def pairsOf(syms: mutable.ArrayBuffer[String]): Iterator[(String, String)] =
      syms.iterator.zip(syms.iterator.drop(1))
    words.zipWithIndex.foreach { case ((syms, n), i) =>
      pairsOf(syms).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + n
        occurs.getOrElseUpdate(p, mutable.Set.empty) += i
      }
    }

    // Argmax via a lazy-deletion max-heap: popping the true maximum is
    // O(log H) instead of the O(|pairs|) full-map scan a minBy pays —
    // the difference between a 32k-merge production vocabulary being
    // seconds vs hours (BpeTrainerSpec carries the wall-clock gate).
    // An entry is valid iff its recorded count equals the live count;
    // every count change enqueues a fresh entry, so the live maximum
    // always has a valid entry and stale ones are discarded on pop.
    // Ordering matches the previous minBy((-c, l, r)) exactly: highest
    // count first, ties by (left, right) ascending — dequeue returns
    // the LARGEST, so count compares ascending and strings reversed.
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = b._2.compareTo(a._2)
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty(heapOrd)
    counts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    def popBest(): Option[((String, String), Long)] = {
      while (heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.get((l, r)).contains(c)) return Some(((l, r), c))
      }
      None
    }

    val merges = mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    var next = popBest()
    while (rank <= nMerges && next.isDefined) {
      val (best, cnt) = next.get
      merges += Merge(rank, best._1, best._2, cnt)
      // touch only the words that contain the merged pair.
      val affected = occurs.getOrElse(best, mutable.Set.empty).toArray
      val touched = mutable.Set.empty[(String, String)]
      affected.foreach { i =>
        val (syms, n) = words(i)
        val before = pairsOf(syms).toVector
        val after = applyMerge(syms.toSeq, best._1, best._2)
        syms.clear(); syms ++= after
        val now = pairsOf(syms).toVector
        // delta the global pair counts (multiset, weighted by n).
        before.foreach { p =>
          val c = counts(p) - n
          if (c == 0L) counts.remove(p) else counts(p) = c
          touched += p
        }
        now.foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + n
          touched += p
        }
        // re-index this word's pair membership.
        val gone = before.toSet -- now.toSet
        gone.foreach { p => occurs.get(p).foreach(_ -= i) }
        now.foreach { p => occurs.getOrElseUpdate(p, mutable.Set.empty) += i }
      }
      occurs.remove(best)
      // one fresh heap entry per touched pair at its settled count
      // (not one per word) — the valid-entry invariant at O(|touched|)
      touched.foreach { p =>
        counts.get(p).foreach(c => heap.enqueue((c, p._1, p._2)))
      }
      rank += 1
      next = popBest()
    }
    merges.toSeq
  }

  /** Applies an ordered merge list to a corpus, emitting per-document
    * BPE token counts — the inference-side twin of [[train]], as one
    * distributed pass (merges broadcast as a plain captured Seq).
    */
  def tokenCounts(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    encode(df, idCol, textCol, merges)
      .select(col(idCol), size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"))

  /** A word encoder for one partition: the ordered merges applied to a
    * word's codepoint symbols, memoized per distinct word — word
    * frequencies are Zipfian, so the merge loop runs once per distinct
    * word per partition (exactly what production tokenizers do).
    * `ordered` is the merge list as (left, right) pairs in rank order.
    */
  private[graft] def wordEncoder(ordered: Seq[(String, String)]): String => Seq[String] = {
    val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    w => cache.getOrElseUpdate(w, {
      var syms: Seq[String] = charSyms(w)
      ordered.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
      syms
    })
  }

  /** Full corpus ENCODING: applies the ordered merge list and emits
    * each document's BPE token sequence — the artifact the packing /
    * training-shard stages consume ([[SequencePacker]], `Sharder`).
    *
    * Scale shape: merges are bounded metadata captured into the
    * closure (Spark broadcasts task binaries); encoding is a pure
    * per-partition map through one [[wordEncoder]] per partition. No
    * shuffle at all.
    */
  def encode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ordered = merges.sortBy(_.rank).map(m => (m.left, m.right))
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val enc = wordEncoder(ordered)
        it.map { case (id, text) =>
          (id, text.split(" ").filter(_.nonEmpty).toSeq.flatMap(enc))
        }
      }
      .toDF(idCol, "bpe_tokens")
  }
}
