package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Incremental (batch-vs-corpus) near-dup detection — the production
  * shape of dedup at 100 TB. A full self-join re-pairs the entire
  * corpus on every ingest; real pipelines instead keep a persistent
  * MinHash INDEX of the corpus and probe it with each arriving batch:
  *
  *   - index build is one pass over the corpus (signature aggregate +
  *     band explode), amortized once, then appended to per batch;
  *   - a batch probe shuffles only the BATCH's band keys (∝ batch
  *     size, not corpus size) into an equi join against the index;
  *   - exact verification joins candidate ids back to the stored
  *     shingle sets — candidates only, never all pairs.
  *
  * With the index written bucketed/partitioned by band key, the probe
  * join co-locates on the index's layout and the corpus side never
  * reshuffles. Daily 1 TB batches against a 100 TB corpus cost
  * O(batch + candidates) per day instead of O(corpus²).
  *
  * Band keys on both sides come from [[DedupQueries.minhashBandsOf]]
  * (the q34 pipeline), so a batch signature agrees bit-for-bit with
  * the stored corpus signatures.
  *
  * Reference basis: the reference's dedup tooling is whole-corpus
  * batch (pairs recomputed per run); this is the Spark-native
  * incremental upgrade the north-star pipeline needs.
  */
final case class DedupIndex(bands: DataFrame, shingles: DataFrame)

object IncrementalDedup {

  /** One-pass index build over a document corpus (`doc_id`, `text`):
    * `bands` = (doc_id, band, bkey) LSH probe keys, `shingles` =
    * (doc_id, sh) exact-verify sets.
    */
  def buildIndex(docs: DataFrame): DedupIndex = {
    val posts = graft.Reuse.query(DedupQueries.shinglePostingsOf(docs))
    DedupIndex(
      bands = DedupQueries.minhashBandsOf(posts),
      shingles = DedupQueries.shingleSetsOf(posts))
  }

  /** Durable index built directly from the corpus: `bands`
    * partitioned by `band` so a probe of band b scans only `band=b/`
    * (partition pruning); at cluster scale bucket `bkey` within each
    * band for a shuffle-free probe join. Takes the raw docs (not a
    * [[DedupIndex]]) so the shingle postings are computed ONCE and
    * persisted across the two writes — writing a lazily-built index
    * would re-run the whole postings pipeline for the second file.
    */
  def writeIndex(docs: DataFrame, dir: String): Unit =
    graft.Reuse.within(DedupQueries.shinglePostingsOf(docs))(
      writeFrom(_, dir, SaveMode.Overwrite))

  /** Index maintenance: fold a new (already-deduped) batch INTO the
    * stored index so later batches dedup against it too. Append-only
    * parquet — no rewrite of the existing 100 TB index.
    */
  def appendIndex(newDocs: DataFrame, dir: String): Unit =
    graft.Reuse.within(DedupQueries.shinglePostingsOf(newDocs))(
      writeFrom(_, dir, SaveMode.Append))

  /** The one index write of build and append. Band rows are clustered
    * by `band` first, so a write adds one file per band it touches,
    * not one per band per write task.
    */
  private[graft] def writeFrom(posts: DataFrame, dir: String, mode: SaveMode): Unit = {
    DedupQueries.minhashBandsOf(posts).repartition(col("band")).write.mode(mode)
      .partitionBy("band").parquet(s"$dir/bands")
    DedupQueries.shingleSetsOf(posts).write.mode(mode).parquet(s"$dir/shingles")
  }

  def readIndex(spark: SparkSession, dir: String): DedupIndex =
    DedupIndex(
      bands = spark.read.parquet(s"$dir/bands")
        .select(col("doc_id"), col("band"), col("bkey")),
      shingles = spark.read.parquet(s"$dir/shingles"))

  /** Near-dup pairs between a new batch and the indexed corpus:
    * (new_id, dup_of, jaccard) with exact Jaccard ≥ `threshold`,
    * LSH-banded candidates only. A batch doc duplicating several
    * corpus docs emits one row per match (the caller picks keep/drop
    * policy). Same-id pairs are dropped, so an index that already
    * contains the batch (an at-least-once replay) never reports a doc
    * as a duplicate of itself.
    */
  def newDupPairs(
      newDocs: DataFrame, ix: DedupIndex,
      threshold: Double = 0.8): DataFrame =
    probePairs(graft.Reuse.query(DedupQueries.shinglePostingsOf(newDocs)),
      ix, threshold)

  /** The probe kernel, from already-built (ideally persisted) batch
    * postings — lets a caller that also appends reuse one postings
    * pass for both.
    */
  private[graft] def probePairs(
      posts: DataFrame, ix: DedupIndex, threshold: Double): DataFrame = {
    val cand = DedupQueries.minhashBandsOf(posts).alias("n")
      .join(ix.bands.alias("c"),
        col("n.band") === col("c.band") && col("n.bkey") === col("c.bkey"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
      .filter(col("new_id") =!= col("dup_of"))
      .distinct()
    val newSh = DedupQueries.shingleSetsOf(posts)
    cand
      .join(newSh.select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(ix.shingles.select(col("doc_id").as("dup_of"), col("sh").as("shb")),
        "dup_of")
      .select(col("new_id"), col("dup_of"),
        round(size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
