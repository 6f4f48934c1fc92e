package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.queries.SimilarityQueries

/** Durable IVF index for approximate nearest-neighbor search — q39's
  * IVF steps ([[SimilarityQueries.assignCells]], `probeCells`,
  * `rerankTopk`) over a cell layout on disk, and the similarity twin
  * of [[IncrementalDedup]]'s durable MinHash index:
  *
  *   - `build` trains k centroids (Lloyd, deterministic seeds, the
  *     q39 trainer) and writes every vector into its nearest-centroid
  *     cell, parquet-PARTITIONED by `c_id` — each cell is a directory;
  *   - `search` scores a query batch against the (tiny, driver-read)
  *     centroid table, picks `nprobe` cells per query, and scans ONLY
  *     the probed cell directories — partition pruning turns nprobe/k
  *     into a physical IO bound, not just a candidate-count bound;
  *   - `append` assigns an arriving batch with the SAME stored
  *     centroids and appends to the cell directories — no index
  *     rewrite, the [[IncrementalDedup.appendIndex]] contract.
  *
  * At 100 TB the cell scan is the whole game: a brute-force pass
  * reads the corpus per query batch, while this layout reads
  * ~nprobe/k of it (directory-pruned, so it's file listing + column
  * pruning on top). Recall/IO trade is the (k, nprobe) knob pair,
  * same as q39. `AnnIndexSpec` pins: search at q39's (k, iters,
  * nprobe) returns q39's rows, scan touches only probed directories,
  * recall@10 vs brute force, append-then-search finds the appended
  * vectors, and each write adds one file per touched cell.
  */
object AnnIndex {

  /** Train k centroids over `t` (`vec_id`, `embedding`) and write the
    * index: `dir/centroids` (k rows) + `dir/cells/c_id=N/` (the
    * corpus, one directory per cell).
    */
  def build(t: DataFrame, dir: String, k: Int = 16, iters: Int = 4): Unit = {
    val s = t.sparkSession
    val cents = SimilarityQueries.trainCentroids(s, t, k, iters)
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    writeCells(SimilarityQueries.assignCells(t, cents, "embedding"),
      s"$dir/cells", SaveMode.Overwrite)
  }

  /** Assign a new batch with the STORED centroids and append its
    * vectors to the cell directories (append-only, no rewrite).
    */
  def append(s: SparkSession, dir: String, batch: DataFrame): Unit =
    writeCells(SimilarityQueries.assignCells(batch,
      s.read.parquet(s"$dir/centroids"), "embedding"), s"$dir/cells", SaveMode.Append)

  /** The one cell write of build, append and compact: rows are
    * clustered by `c_id` first, so a write adds one file per cell it
    * touches, not one per cell per write task.
    */
  private def writeCells(cells: DataFrame, path: String, mode: SaveMode): Unit =
    cells.repartition(col("c_id")).write.mode(mode).partitionBy("c_id").parquet(path)

  /** Tombstone-delete: record the ids in `dir/tombstones` (append-only
    * — no cell rewrite, the same O(batch) cost as a CDC delete row in
    * q91). [[search]] anti-joins the tombstone set so deleted vectors
    * are never returned; the physical rows stay until [[compact]].
    * Re-inserting a deleted id requires a compact first (the tombstone
    * wins over any cell row, old or re-appended) — the simple
    * monotonic contract, documented rather than versioned.
    */
  def delete(dir: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode(SaveMode.Append)
      .parquet(s"$dir/tombstones")

  /** Rewrites the cell directories without the tombstoned vectors and
    * clears the tombstone set — the periodic merge a long-lived index
    * runs so the deleted fraction never degrades probe IO. One
    * anti-join + one partitioned write of the surviving rows; the
    * swap is write-new → delete-old → rename, so a crashed compact
    * leaves the old cells directory intact (and at worst a stale
    * `cells_compact` temp to clean up).
    */
  def compact(s: SparkSession, dir: String): Unit = {
    val ts = tombstones(s, dir).getOrElse(return)
    val kept = s.read.parquet(s"$dir/cells")
      .join(ts, Seq("vec_id"), "left_anti")
    val tmp = s"$dir/cells_compact"
    writeCells(kept, tmp, SaveMode.Overwrite)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/cells"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$dir/cells"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true)
  }

  /** The live tombstone set, or None when nothing was ever deleted
    * (or a compact cleared it).
    */
  private def tombstones(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"$dir/tombstones"), s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(s"$dir/tombstones").distinct())
    else None
  }

  /** Top-`topk` neighbors per query row (`q_id`, `qe`), probing the
    * `nprobe` nearest cells. Output: (q_id, n_id, cos_sim, rn) —
    * the q39 shape. Only the probed `c_id=` directories are read
    * (partition filter on the cell scan).
    */
  def search(s: SparkSession, dir: String, queries: DataFrame,
      nprobe: Int, topk: Int): DataFrame = {
    GraftFunctions.register(s)
    val probes = SimilarityQueries.probeCells(queries,
      s.read.parquet(s"$dir/centroids"), nprobe)
    // the UNION of probed cells is bounded by k (collect is ≤ k ints —
    // driver metadata, same class as the centroids themselves); the
    // isin filter is a PARTITION filter on the cell scan, so unprobed
    // directories are never listed into the plan
    val cellIds = probes.select(col("c_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells0 = s.read.parquet(s"$dir/cells")
      .filter(col("c_id").isin(cellIds: _*))
    // tombstoned ids never surface (anti join on the pruned cell scan;
    // AQE broadcasts the typically-tiny tombstone side)
    val cells = tombstones(s, dir)
      .map(ts => cells0.join(ts, Seq("vec_id"), "left_anti"))
      .getOrElse(cells0)
    SimilarityQueries.rerankTopk(probes.join(cells, "c_id"), "qe", "embedding", topk)
  }
}
