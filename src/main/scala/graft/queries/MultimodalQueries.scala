package graft.queries

import graft.QueryDef
import graft.multimodal.MediaOps

/** Multimodal-column pipeline surface (see graft.multimodal.MediaOps).
  * Both decode branches run under the driver: every ~4th document
  * carries a genuine PNG decoded by `javax.imageio`, the rest take the
  * loudly-marked stub. The blobs are deterministic, so a DuckDB oracle
  * recomputes the decoded stats SYMBOLICALLY (pixel sums from the
  * gradient formula, byte sums from the text) — the query output is
  * integer-pure (counts + exact sums) to keep the hash compare safe
  * from float summation order.
  */
object MultimodalQueries {

  val q48MultimodalFeatures = QueryDef(
    "q48_multimodal_features",
    "binary media columns → batched decode (real PNG via imageio + stub) → per-source integer feature stats",
    """WITH m AS (
      |  SELECT doc_id, source, (doc_id // 7) % 4 = 0 AS is_png,
      |    CASE WHEN (doc_id // 7) % 4 = 0
      |         THEN (doc_id % 13 + 3) * (doc_id % 7 + 3)
      |         ELSE strlen(text) END AS n_bytes,
      |    CASE WHEN (doc_id // 7) % 4 = 0
      |         THEN (doc_id % 13 + 3) *
      |              list_sum(list_transform(range(0, doc_id % 7 + 3),
      |                                      y -> (doc_id * 7 + y) % 256))
      |         -- stub sums the blob's UNSIGNED UTF-8 BYTES; replay it
      |         -- from codepoints: an n-byte UTF-8 char contributes its
      |         -- lead marker + continuation markers + payload sextets
      |         ELSE list_sum(list_transform(string_split(text, ''), c ->
      |           CASE WHEN ascii(c) < 128 THEN ascii(c)
      |                WHEN ascii(c) < 2048
      |                THEN 320 + (ascii(c) // 64) + (ascii(c) % 64)
      |                WHEN ascii(c) < 65536
      |                THEN 480 + (ascii(c) // 4096)
      |                     + ((ascii(c) // 64) % 64) + (ascii(c) % 64)
      |                ELSE 624 + (ascii(c) // 262144)
      |                     + ((ascii(c) // 4096) % 64)
      |                     + ((ascii(c) // 64) % 64) + (ascii(c) % 64)
      |           END))
      |         END AS sum_raw
      |  FROM documents)
      |SELECT source,
      |  count(*) AS n_media,
      |  CAST(sum(CASE WHEN is_png THEN 1 ELSE 0 END) AS BIGINT) AS n_png,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(sum(CASE WHEN is_png THEN sum_raw ELSE 0 END) AS BIGINT) AS png_lum_sum,
      |  CAST(sum(CASE WHEN NOT is_png THEN sum_raw ELSE 0 END) AS BIGINT) AS stub_byte_sum
      |FROM m GROUP BY source ORDER BY source""".stripMargin) {
    (s, d) => MediaOps.featureStats(s, d)
  }

  /** Image near-dup dedup via 64-bit perceptual dHash — the multimodal
    * sibling of q35's SimHash text dedup: REAL `javax.imageio` decode
    * of a deterministic PNG gallery (20 planted prototypes × per-id
    * pixel noise), nearest-neighbor 8×9 luminance resize, gradient-
    * sign fingerprint, then hamming ≤ 7 neighbors via the exact
    * 8-band pigeonhole join (hamming ≤ 7 ⇒ at least one of 8 bytes is
    * untouched, so banding loses nothing). Per image: neighbor count
    * and the dedup decision (`keep` unless a lower-id near-dup
    * exists) — the survivorship form, so output stays LINEAR in the
    * corpus while pair volume within dup clusters is quadratic.
    *
    * Scale shape: encode/decode/hash are map-side per-partition work
    * behind a pinned compute-sized repartition (bytes-blind AQE, the
    * q35/q60 lesson); the band self-join keys on (band, byte) exactly
    * like q35; the neighbor aggregate keys on doc_id. No all-pairs
    * path at any point. The oracle replays pixels, luminance, hash,
    * and the dedup decision symbolically from the gallery formula
    * (brute-force pairs — oracle-side only) and hash-gates the full
    * 64-bit fingerprints.
    */
  val q157ImageDhashNeardup = QueryDef(
    "q157_image_dhash_neardup",
    "image near-dup dedup: real PNG decode -> 64-bit dHash -> exact 8-band hamming<=7 neighbors + keep decision",
    """WITH ids AS (SELECT doc_id AS id FROM documents),
      |hsh AS (
      |  SELECT id, CAST(CASE WHEN u >= (CAST(1 AS HUGEINT) << 63)
      |                       THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS dh
      |  FROM (
      |    SELECT id, list_sum(list_transform(range(0, 8), k ->
      |      list_sum(list_transform(range(0, 8), j ->
      |        CASE WHEN
      |          ((31 * (id % 20) + 7 * ((j*15)//7) + 13 * (((k+1)*11)//8)
      |            + (((j*15)//7) * (((k+1)*11)//8) * (id % 20 + 3)) % 64) % 256
      |           + CASE WHEN (((j*15)//7) * 5 + (((k+1)*11)//8) * 3) % 50 = id % 50 THEN 37 ELSE 0 END) % 256
      |          >
      |          ((31 * (id % 20) + 7 * ((j*15)//7) + 13 * ((k*11)//8)
      |            + (((j*15)//7) * ((k*11)//8) * (id % 20 + 3)) % 64) % 256
      |           + CASE WHEN (((j*15)//7) * 5 + ((k*11)//8) * 3) % 50 = id % 50 THEN 37 ELSE 0 END) % 256
      |        THEN (CAST(1 AS HUGEINT) << CAST(8*k + j AS INT)) ELSE CAST(0 AS HUGEINT) END)))) AS u
      |    FROM ids)),
      |pairs AS (
      |  SELECT a.id AS ia, b.id AS ib
      |  FROM hsh a JOIN hsh b ON a.id <> b.id AND bit_count(xor(a.dh, b.dh)) <= 7),
      |agg AS (
      |  SELECT ia AS id, CAST(count(*) AS BIGINT) AS n_near,
      |         min(CASE WHEN ib < ia THEN ib END) AS dup_of
      |  FROM pairs GROUP BY ia)
      |SELECT h.id AS doc_id, h.dh AS dhash,
      |  coalesce(a.n_near, 0) AS n_near, a.dup_of,
      |  a.dup_of IS NULL AS keep
      |FROM hsh h LEFT JOIN agg a ON a.id = h.id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    val dp = s.sparkContext.defaultParallelism
    val hashes = MediaOps.galleryDHashes(s, d)
    // 8 bands × 8 bits, pinned band-key repartition — q35's plan shape
    val banded = hashes.select(col("doc_id"), col("dhash"),
        posexplode(expr(
          "transform(sequence(0, 7), b -> shiftrightunsigned(dhash, 8*b) & 255)"))
          .as(Seq("b", "bv")))
      .repartition(dp, col("b"), col("bv"))
    val pairs = banded.alias("x")
      .join(banded.alias("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
        expr("bit_count(x.dhash ^ y.dhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 7)
    val agg = pairs.groupBy(col("ia").as("doc_id"))
      .agg(count(lit(1)).as("n_near"),
        min(when(col("ib") < col("ia"), col("ib"))).as("dup_of"))
    hashes.join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Audio frame-sampling — the third multimodal modality next to
    * q48's image decode and q157's image dedup: every 5th document
    * carries a GENUINE RIFF/WAVE PCM16 blob (canonical header + data
    * chunk, deterministic waveform with a planted per-doc silent
    * stretch), and the Spark side REALLY parses it — RIFF magic,
    * chunk walk to fmt/data, PCM16LE decode (`MediaOps.parseWav`) —
    * then frame-samples at 256/128 (50% overlap) and extracts exact
    * integer frame energies + silent-frame detection. The waveform
    * FORMULA exists only on the synthesis and oracle sides; the
    * engine path works from bytes, exactly like a codec integration.
    *
    * Scale shape: synth/parse/frame are map-side per-partition work
    * over opaque binary columns (the q48 contract — no driver
    * round-trips, frames iterate in place, nothing explodes); the
    * only shuffle is the final orderBy for the deterministic dump.
    * The oracle replays every frame energy symbolically from the
    * waveform formula — never parsing WAV in SQL.
    */
  val q211AudioFramesample = QueryDef(
    "q211_audio_framesample",
    "audio binary columns: real WAV parse -> 256/128 frame sampling -> integer energy + silence stats per doc",
    """WITH a AS (SELECT doc_id,
      |            CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
      |            4096 + (doc_id % 7) * 512 AS n,
      |            512 + (doc_id % 11) * 128 AS zlen
      |          FROM documents WHERE doc_id % 5 = 2),
      |fr AS (SELECT doc_id, sample_rate, n, zlen, f * 128 AS s0
      |       FROM a, unnest(range(0, (n - 256) // 128 + 1)) AS u(f)),
      |fe AS (SELECT doc_id, sample_rate, n,
      |         CAST(list_sum(list_transform(range(s0, s0 + 256),
      |           t -> CASE WHEN t >= 3072 AND t < 3072 + zlen THEN 0
      |                ELSE abs((doc_id * 37 + t * 11) % 2048 - 1024) END))
      |           AS BIGINT) AS e
      |       FROM fr)
      |SELECT doc_id, sample_rate, CAST(n AS BIGINT) AS n_samples,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(e) AS BIGINT) AS total_energy,
      |  CAST(max(e) AS BIGINT) AS peak_energy,
      |  CAST(count(*) FILTER (e = 0) AS BIGINT) AS n_silent,
      |  CAST((10000 * count(*) FILTER (e = 0)) // count(*) AS BIGINT) AS silence_bp
      |FROM fe GROUP BY doc_id, sample_rate, n
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    MediaOps.audioFrameFeatures(s, MediaOps.synthesizeAudio(s, d)).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("n_frames"), col("total_energy"), col("peak_energy"),
        col("n_silent"),
        expr("(10000 * n_silent) div n_frames").as("silence_bp"))
      .orderBy(col("doc_id"))
  }

  /** Video frame-sampling — completes the image/audio/video modality
    * trio: every 5th document (disjoint from q211's audio slice)
    * carries a GENUINE YUV4MPEG2 mono stream (the raw-video container
    * ffmpeg reads: stream header + FRAME-delimited luminance planes),
    * and the engine REALLY parses it — header tokenization, FRAME
    * marker walk, plane slicing (`MediaOps.parseY4m`) — then decodes
    * only every 2nd frame (frame sampling: don't decode what you
    * don't need), computing exact integer luminance sums and
    * scene-cut detection by sum-of-absolute-differences between
    * consecutive sampled frames. Scenes are planted 8-frame plateaus
    * alternating 100 gray levels apart, so within-scene sampled SAD
    * is exactly 2·npix and cross-cut SAD ≥ 94·npix — the threshold
    * (mean diff > 50) separates them with proof, not tuning.
    *
    * Scale shape: parse/sample/diff are map-side per-partition work
    * over opaque binary columns; nothing explodes into rows; the only
    * shuffle is the deterministic output sort. The oracle replays
    * frame statistics in CLOSED FORM (per-frame luminance sum =
    * npix·(base+f%8) + gradient constant; SAD = npix·|Δ|) — pixels
    * never materialize in SQL.
    */
  val q212VideoFramesample = QueryDef(
    "q212_video_framesample",
    "video binary columns: real Y4M parse -> every-2nd-frame sampling -> integer luminance + SAD scene cuts per doc",
    """WITH v AS (SELECT doc_id, 24 + (doc_id % 9) * 4 AS nf
      |          FROM documents WHERE doc_id % 5 = 3),
      |sf AS (SELECT doc_id, nf, k * 2 AS f
      |       FROM v, unnest(range(0, (nf + 1) // 2)) AS u(k)),
      |fv AS (SELECT doc_id, nf, f,
      |         30 + ((f // 8) % 2) * 100 + (doc_id % 40) + (f % 8) AS val
      |       FROM sf),
      |fd AS (SELECT doc_id, nf, f, val,
      |         lag(val) OVER (PARTITION BY doc_id ORDER BY f) AS pval
      |       FROM fv)
      |SELECT doc_id, CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(count(*) AS BIGINT) AS n_sampled,
      |  CAST(sum(192 * val + 6048) AS BIGINT) AS total_lum,
      |  CAST(count(*) FILTER (pval IS NOT NULL AND abs(val - pval) > 50)
      |    AS BIGINT) AS n_cuts,
      |  CAST(coalesce(max(192 * abs(val - pval)), 0) AS BIGINT) AS peak_sad
      |FROM fd GROUP BY doc_id, nf
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    MediaOps.videoFrameFeatures(s, MediaOps.synthesizeVideo(s, d)).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("n_sampled"), col("total_lum"), col("n_cuts"), col("peak_sad"))
      .orderBy(col("doc_id"))
  }

  /** Modality token-budget audit — the mixture-planning read a
    * MULTIMODAL training run needs before q81/q88's text-only token
    * budgeting applies: per modality, how many items the corpus
    * carries and how many TRAINING TOKENS they cost under the
    * standard tokenization models — text = whitespace tokens, image =
    * 2×2-patch grid ⌈w/2⌉·⌈h/2⌉ (the ViT patch-embedding count),
    * audio = 256/128 analysis frames (q211's framing), video =
    * frames × 4×4 patches — then each modality's share of the total
    * token budget in bp against a declared target mixture
    * (text 70% / image 10% / audio 10% / video 10%), signed deviation
    * included. The numbers that decide per-modality up/downsampling
    * before packing ([[graft.api.SequencePacker]] consumes the text
    * side; this audit says whether the other modalities fit).
    *
    * Scale shape: each modality contributes ONE global partial-
    * aggregable aggregate (text: token counts off the documents scan;
    * image: patch grid off the media table's width/height metadata;
    * audio/video: frame counts from the REAL container parses q211/
    * q212 already exercise — WAV chunk walk, Y4M frame walk); the
    * union is a 4-row metadata relation and the share arithmetic is
    * integer bp. Total-on-empty stays total: global aggregates emit
    * their zero rows over empty input on both engines.
    */
  val q252ModalityBudget = QueryDef(
    "q252_modality_budget",
    "modality token-budget audit: items + training tokens per modality (text words, image patches, audio frames, video frame-patches), share vs target mixture bp",
    """WITH text_m AS (
      |  SELECT 'text' AS modality, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(coalesce(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))), 0) AS BIGINT) AS n_tokens
      |  FROM documents),
      |img_m AS (
      |  SELECT 'image' AS modality, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(coalesce(sum(((doc_id % 13 + 3 + 1) // 2) * ((doc_id % 7 + 3 + 1) // 2)), 0) AS BIGINT) AS n_tokens
      |  FROM documents WHERE (doc_id // 7) % 4 = 0),
      |aud_m AS (
      |  SELECT 'audio' AS modality, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(coalesce(sum((4096 + (doc_id % 7) * 512 - 256) // 128 + 1), 0) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 5 = 2),
      |vid_m AS (
      |  SELECT 'video' AS modality, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(coalesce(sum((24 + (doc_id % 9) * 4) * (((16 + 3) // 4) * ((12 + 3) // 4))), 0) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 5 = 3),
      |m AS (SELECT * FROM text_m UNION ALL SELECT * FROM img_m
      |      UNION ALL SELECT * FROM aud_m UNION ALL SELECT * FROM vid_m),
      |tgt(modality, target_bp) AS (VALUES ('text', CAST(7000 AS BIGINT)),
      |      ('image', 1000), ('audio', 1000), ('video', 1000)),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM m)
      |SELECT m.modality, m.n_items, m.n_tokens,
      |  (10000 * m.n_tokens) // tot.total AS share_bp,
      |  tgt.target_bp,
      |  (10000 * m.n_tokens) // tot.total - tgt.target_bp AS dev_bp
      |FROM m JOIN tgt USING (modality), tot
      |ORDER BY modality""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(s, d)
    val textM = docs
      .select(when(col("text").isNotNull,
        size(filter(split(col("text"), " "), t => length(t) > 0)))
        .otherwise(0).cast("long").as("tk"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("tk")), lit(0L)).as("n_tokens"))
      .select(lit("text").as("modality"), col("n_items"), col("n_tokens"))
    val imgM = MediaOps.synthesizeMedia(s, d).toDF()
      .filter(col("mime") === "image/png")
      .select(expr("(width + 1) div 2").cast("long").as("pw"),
        expr("(height + 1) div 2").cast("long").as("ph"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("pw") * col("ph")), lit(0L)).as("n_tokens"))
      .select(lit("image").as("modality"), col("n_items"), col("n_tokens"))
    val audM = MediaOps.audioFrameFeatures(s, MediaOps.synthesizeAudio(s, d))
      .toDF()
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("n_frames")), lit(0L)).as("n_tokens"))
      .select(lit("audio").as("modality"), col("n_items"), col("n_tokens"))
    val vidM = MediaOps.videoFrameFeatures(s, MediaOps.synthesizeVideo(s, d))
      .toDF()
      .select(col("n_frames"),
        (expr("(width + 3) div 4") * expr("(height + 3) div 4")).as("ppf"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("n_frames") * col("ppf")), lit(0L)).as("n_tokens"))
      .select(lit("video").as("modality"), col("n_items"), col("n_tokens"))
    val m = textM.unionByName(imgM).unionByName(audM).unionByName(vidM)
    val tgt = Seq(("text", 7000L), ("image", 1000L),
      ("audio", 1000L), ("video", 1000L))
    val tgtDf = {
      import s.implicits._
      broadcast(tgt.toDF("modality", "target_bp"))
    }
    // total via an unpartitioned window over the 4-row modality
    // relation (metadata — a separate m.agg() branch would re-evaluate
    // all four corpus scans a second time)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // empty-corpus totality: ANSI `div` throws on a zero total where
    // DuckDB's `//` returns NULL — guard to NULL on both engines
    val share = when(col("total") > 0,
      expr("(10000 * n_tokens) div total"))
    m.withColumn("total", sum(col("n_tokens")).over(w))
      .join(tgtDf, "modality")
      .select(col("modality"), col("n_items"), col("n_tokens"),
        share.as("share_bp"), col("target_bp"),
        (share - col("target_bp")).as("dev_bp"))
      .orderBy(col("modality"))
  }

  lazy val all: Seq[QueryDef] = Seq(q48MultimodalFeatures, q157ImageDhashNeardup,
    q211AudioFramesample, q212VideoFramesample, q240AudioFingerprintNeardup,
    q252ModalityBudget)

  /** Audio near-duplicate detection by acoustic fingerprint —
    * completes the modality dedup trio next to q157's image dHash
    * and the text family: the audio slice carries a PLANTED gallery
    * (five prototype recordings, per-doc sample-level perturbation),
    * the engine REALLY parses each WAV (`MediaOps.parseWav`: RIFF
    * chunk walk, PCM16 decode), computes overlapping frame energies,
    * and packs the SIGN of each consecutive-frame energy delta into
    * a 30-bit fingerprint (Haitsma–Kalker's energy-contour-direction
    * bit — level/perturbation-invariant because the gallery's
    * hop-aligned sawtooth makes every delta ±8128·Δm against ≤2 of
    * perturbation noise, a proof not a tuning). Near-dups are then
    * the q157/q35 machinery verbatim: 5-band × 6-bit pigeonhole join
    * (hamming ≤ 3 must collide on ≥ 1 exact band), bit_count XOR
    * verify on candidates only, min-id survivorship so output stays
    * LINEAR in the corpus.
    *
    * Scale shape: decode+fingerprint are map-side per-partition work
    * over opaque binary columns; the band join carries (band, 6-bit
    * key, fp, id) — never PCM; candidates are banded, verified
    * exactly, then collapsed by a per-doc min aggregate.
    *
    * Oracle: the synthesis is closed-form, so the delta sign is the
    * pure function `[(2·proto + f) mod 7 < 5]` — the oracle builds
    * every fingerprint symbolically (pixels-never-materialize, the
    * q211/q212 convention) and replays the identical band join,
    * hamming verify, and survivorship decision.
    */
  val q240AudioFingerprintNeardup = QueryDef(
    "q240_audio_fingerprint_neardup",
    "audio near-dup: real WAV parse -> delta-sign energy fingerprint -> banded hamming<=3 join -> min-id survivorship",
    """WITH a AS (SELECT doc_id, (doc_id // 5) % 5 AS proto
      |          FROM documents WHERE doc_id % 5 = 2),
      |fp AS (SELECT doc_id,
      |         CAST(list_sum(list_transform(range(0, 30),
      |           f -> CASE WHEN (2 * proto + f) % 7 < 5
      |                THEN (CAST(1 AS BIGINT) << f) ELSE 0 END)) AS BIGINT) AS fp
      |       FROM a),
      |bd AS (SELECT doc_id, fp, b, (fp >> (6 * CAST(b AS INT))) & 63 AS key
      |       FROM fp, unnest(range(0, 5)) AS v(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS u, y.doc_id AS w, x.fp AS fu, y.fp AS fw
      |         FROM bd x JOIN bd y ON x.b = y.b AND x.key = y.key
      |                            AND x.doc_id <> y.doc_id),
      |nb AS (SELECT u, CAST(min(w) AS BIGINT) AS best FROM cand
      |       WHERE bit_count(xor(fu, fw)) <= 3 GROUP BY u)
      |SELECT f.doc_id, CAST(31 AS BIGINT) AS n_frames, f.fp,
      |  least(coalesce(nb.best, f.doc_id), f.doc_id) AS dup_of,
      |  CAST(CASE WHEN coalesce(nb.best, f.doc_id) >= f.doc_id THEN 1 ELSE 0 END AS INT) AS keep
      |FROM fp f LEFT JOIN nb ON nb.u = f.doc_id
      |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions._
    // fingerprints feed both band-join sides AND the survivorship
    // join-back — persist for the query's scope so the WAV parse runs
    // once per blob, not three times
    val fps = graft.Reuse.query(
      MediaOps.audioFingerprints(s, MediaOps.synthesizeAudioGallery(s, d))
        .toDF().select(col("doc_id"), col("n_frames"), col("fp")))
    val bd = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until 5).map(b =>
        struct(lit(b.toLong).as("b"),
          (shiftrightunsigned(col("fp"), 6 * b).bitwiseAND(lit(63L))).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.b").as("b"), col("bk.key").as("key"))
    val cand = bd.as("x")
      .join(bd.select(col("doc_id").as("w"), col("fp").as("fw"),
        col("b").as("b2"), col("key").as("key2")),
        col("b") === col("b2") && col("key") === col("key2") &&
          col("doc_id") =!= col("w"))
      .select(col("doc_id").as("u"), col("w"), col("fp").as("fu"), col("fw"))
      .distinct()
    val nb = cand.filter(expr("bit_count(fu ^ fw) <= 3"))
      .groupBy(col("u")).agg(min(col("w")).as("best"))
    fps.join(nb, col("doc_id") === col("u"), "left_outer")
      .select(col("doc_id"), col("n_frames"), col("fp"),
        least(coalesce(col("best"), col("doc_id")), col("doc_id")).as("dup_of"),
        when(coalesce(col("best"), col("doc_id")) >= col("doc_id"), 1)
          .otherwise(0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }
}
