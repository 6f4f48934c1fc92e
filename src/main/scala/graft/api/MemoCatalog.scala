package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, fingerprint-keyed catalog for expensive derived relations
  * — what [[graft.Reuse.session]] reads through when a memo declares
  * `durable` inputs, so the memo outlives the session. A 100 TB
  * pipeline cannot recompute the MinHash
  * cluster assignment or the semantic-pair relation per process: it
  * persists them once per corpus snapshot and re-reads until the
  * corpus changes. This generalizes what [[AnnIndex]] (durable IVF
  * cells) and [[IncrementalDedup]] (durable band index) already do
  * ad hoc, with the q196 fingerprint idea as the invalidation key.
  *
  * Protocol per memo `<root>/<name>/`:
  *  - `manifest.json` names the live data directory and the input
  *    fingerprint it was built from;
  *  - data lives in `data-<fp>-<nonce>` (nonce = build timestamp, so
  *    concurrent rebuilds never clobber each other's files);
  *  - a rebuild writes the NEW data dir first, then swaps the
  *    manifest via write-temp + OVERWRITING atomic rename (readers
  *    always see a complete manifest — never a missing-manifest
  *    window that would stampede concurrent sessions into redundant
  *    rebuilds). Each manifest also records the dir it REPLACED
  *    (`prevDataDir`), and GC deletes exactly the dir superseded two
  *    swaps ago (the replaced manifest's own `prevDataDir`): the
  *    just-superseded dir survives until the swap after this one, so
  *    a session that read the old manifest moments before the swap
  *    still opens its parquet files, and a CONCURRENT rebuild's
  *    freshly-written dir (unknown to any manifest yet) is never
  *    touched. A losing racer's dir leaks space, never correctness.
  *
  * Invalidation: the FINGERPRINT of the declared input relations —
  * order/partition/layout-independent (count + modular sum of
  * per-row hashes, the q196 construction), so a reshard or rewrite
  * of identical content does NOT invalidate, while any row change
  * does (up to 64-bit hash collision, the documented accepted
  * class). Computing it costs one scan of the inputs — paid every
  * session, but a scan is the floor for noticing change without a
  * versioned-table contract, and it is orders cheaper than the
  * builds it guards (LSH banding, verify joins, component rounds).
  *
  * Enablement: set session conf `spark.graft.memo.dir`. Unset (the
  * default, and what the driver's correctness runs use), the catalog
  * is a pass-through, and [[graft.Reuse.session]] pins the built
  * relation with `localCheckpoint` as it does every session memo.
  *
  * Uses the Hadoop FileSystem API throughout, so `memo.dir` may be
  * local, HDFS, or any object store with a Hadoop connector.
  */
object MemoCatalog {

  /** Session conf naming the catalog root; unset = catalog off. */
  val DirConf = "spark.graft.memo.dir"

  /** Order-independent content fingerprint: `<count>-<fp62>` where
    * fp62 is the sum of per-row unsigned xxhash64 over all columns,
    * mod 2⁶² (exact in DECIMAL(38,0) to ~9·10¹⁸ rows — the q196
    * arithmetic). Commutative sum ⇒ independent of row order, file
    * order, and partitioning; one partial-aggregable scan, nothing
    * shuffles but one row of partials per task.
    */
  def fingerprint(df: DataFrame): String = {
    val two64 = lit("18446744073709551616").cast("decimal(38,0)")
    val hd = xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
      .cast("decimal(38,0)")
    val hu = when(hd < 0, hd + two64).otherwise(hd)
    val r = df.select(hu.as("hu"))
      .agg(count(lit(1)).as("n"),
        pmod(coalesce(sum(col("hu")), lit(0).cast("decimal(38,0)")),
          lit("4611686018427387904").cast("decimal(38,0)"))
          .cast("long").as("fp62"))
      .head()
    s"${r.getLong(0)}-${r.getLong(1)}"
  }

  /** Filesystem-safe memo name (call sites key memos by data-dir
    * paths; slashes and colons must not leak into the layout).
    */
  private def sanitize(name: String): String =
    name.map(c => if (c.isLetterOrDigit || c == '.' || c == '-') c else '_')

  private case class Manifest(fingerprint: String, dataDir: String,
      prevDataDir: Option[String])

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      mf: Path): Option[Manifest] =
    if (!fs.exists(mf)) None
    else try {
      val in = fs.open(mf)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      // known string fields of a flat object; keep the parse
      // dependency-free and strict (corrupt ⇒ None ⇒ rebuild);
      // prevDataDir is optional (absent in first-build manifests)
      def field(k: String): Option[String] = {
        val m = ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r
        m.findFirstMatchIn(txt).map(_.group(1))
      }
      for (fp <- field("fingerprint"); dd <- field("dataDir"))
        yield Manifest(fp, dd, field("prevDataDir"))
    } catch { case _: java.io.IOException => None }

  /** Overwriting atomic rename of `tmp` onto `dst`. HDFS-like
    * filesystems get FileContext's Options.Rename.OVERWRITE (a single
    * namenode op); the LOCAL filesystem needs java.nio's ATOMIC_MOVE
    * because Hadoop's local rename-with-overwrite is internally
    * delete-then-rename — exactly the missing-manifest flash this
    * exists to close. Filesystems supporting neither fall back to
    * delete+rename, whose window costs at worst a redundant rebuild.
    */
  private def atomicSwap(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dst: Path, s: SparkSession): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // The nio move bypasses Hadoop's ChecksumFileSystem, so the
      // checksum sidecars must be cleared by hand: a stale
      // `.manifest.json.crc` (left by an fs.rename from an older
      // code path) would fail verification on EVERY later
      // fs.open(manifest.json) — readManifest ⇒ None ⇒ the memo
      // silently rebuilds forever, the exact stampede this swap
      // exists to close — and `fs.create(tmp)`'s own sidecar would
      // otherwise leak one orphan per swap. A missing .crc merely
      // skips verification, so deleting is always safe.
      def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")
      try fs.delete(crc(dst), false)
      catch { case _: java.io.IOException => () }
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      try fs.delete(crc(tmp), false)
      catch { case _: java.io.IOException => () }
    } else try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, s.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"manifest swap failed for $dst")
    }
  }

  /** Read-through accessor: reuse the persisted memo when the inputs'
    * fingerprint matches the manifest, else run `build`, persist it,
    * swap the manifest, and return a scan of the fresh parquet — a
    * STABLE relation callers can fan out to multiple consumers. With
    * the catalog off, `build` is returned as is.
    */
  def readThrough(s: SparkSession, name: String, inputs: Seq[DataFrame])
      (build: => DataFrame): DataFrame =
    s.conf.getOption(DirConf) match {
      case None => build
      case Some(root) =>
        require(inputs.nonEmpty, "memo inputs must be declared")
        val fp = inputs.map(fingerprint).mkString("_")
        val dir = new Path(root, sanitize(name))
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        val mf = new Path(dir, "manifest.json")
        readManifest(fs, mf) match {
          case Some(m) if m.fingerprint == fp &&
              fs.exists(new Path(dir, m.dataDir)) =>
            s.read.parquet(new Path(dir, m.dataDir).toString)
          case prev =>
            val dataDir = s"data-${sanitize(fp)}-${System.nanoTime()}"
            build.write.mode("overwrite")
              .parquet(new Path(dir, dataDir).toString)
            val tmp = new Path(dir, s"manifest.json.tmp-${System.nanoTime()}")
            val prevField = prev.filter(_.dataDir != dataDir)
              .map(m => s""", "prevDataDir": "${m.dataDir}"""")
              .getOrElse("")
            val out = fs.create(tmp, true)
            try out.write(
              s"""{"fingerprint": "$fp", "dataDir": "$dataDir"$prevField}"""
                .getBytes("UTF-8"))
            finally out.close()
            // OVERWRITING atomic rename: a bare delete-then-rename
            // would open a no-manifest window in which every racing
            // reader misses and rebuilds (thundering herd). Racing
            // rebuilds remain last-writer-wins over a complete
            // manifest either way.
            atomicSwap(fs, tmp, mf, s)
            // Deferred GC: drop exactly the dir superseded TWO swaps
            // ago (the replaced manifest's own prevDataDir). The
            // just-superseded dir is deliberately KEPT until the next
            // swap — a session that read the old manifest moments
            // before this swap must still open its parquet — and a
            // racing rebuild's fresh dir (named by no manifest yet)
            // is never a deletion candidate. Best effort: a crash
            // here only leaks space, never correctness.
            prev.flatMap(_.prevDataDir)
              .filterNot(d => d == dataDir || prev.exists(_.dataDir == d))
              .foreach { d =>
                try fs.delete(new Path(dir, d), true)
                catch { case _: java.io.IOException => () }
              }
            s.read.parquet(new Path(dir, dataDir).toString)
        }
    }
}
