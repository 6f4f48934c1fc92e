package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.{QueryDef, Tables}
import graft.plans.GraftFunctions

/** Corpus-versioning operators — the refresh half of a crawl-scale
  * data pipeline: apply a CDC changelog to a snapshot (upsert),
  * diff two corpus versions, and audit a Z-order data layout.
  *
  * The changelog/second-version inputs are synthesized from the
  * `documents` table with mutually-exclusive integer-modulus rules
  * (the q56 idiom), so both engines derive bit-identical deltas and
  * the merge/diff logic itself is what the oracle checks.
  */
object VersioningQueries {

  /** Deterministic CDC delta over `documents`:
    * updates (doc_id % 7 == 3), deletes (% 13 == 5, wins over update),
    * inserts (% 17 == 2, re-keyed past the snapshot id space).
    */
  private def changelog(docs: DataFrame): DataFrame = {
    val upd = docs
      .filter(pmod(col("doc_id"), lit(7)) === 3 &&
        pmod(col("doc_id"), lit(13)) =!= 5)
      .select(col("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" rev2")).as("text"),
        col("lang"), col("source"))
    val del = docs
      .filter(pmod(col("doc_id"), lit(13)) === 5)
      .select(col("doc_id"), lit("D").as("op"), col("text"),
        col("lang"), col("source"))
    val ins = docs
      .filter(pmod(col("doc_id"), lit(17)) === 2)
      .select((col("doc_id") + 1000000L).as("doc_id"), lit("I").as("op"),
        concat(lit("new "), col("text")).as("text"),
        col("lang"), col("source"))
    upd.unionAll(del).unionAll(ins)
  }

  private val changelogSql =
    """SELECT doc_id, 'U' AS op, text || ' rev2' AS text, lang, source
      |  FROM documents WHERE doc_id % 7 = 3 AND doc_id % 13 <> 5
      |UNION ALL
      |SELECT doc_id, 'D', text, lang, source
      |  FROM documents WHERE doc_id % 13 = 5
      |UNION ALL
      |SELECT doc_id + 1000000, 'I', 'new ' || text, lang, source
      |  FROM documents WHERE doc_id % 17 = 2""".stripMargin

  /** Changelog upsert (MERGE): one full-outer equi join of snapshot
    * vs delta on the key — delta rows win, op='D' rows drop out, and
    * untouched snapshot rows pass through. At 100 TB this is a single
    * key shuffle (or zero with both sides bucketed on the key); no
    * window, no driver loop. The emitted `content_md5` hash-checks
    * the merged TEXT, not just which branch won.
    */
  val q91ChangelogUpsert = QueryDef(
    "q91_changelog_upsert",
    "CDC changelog upsert: snapshot MERGE delta (latest-wins, delete-aware), md5-audited",
    s"""WITH delta AS ($changelogSql),
      |merged AS (
      |  SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
      |    CASE WHEN d.doc_id IS NULL THEN 'kept'
      |         WHEN d.op = 'U' THEN 'updated'
      |         ELSE 'inserted' END AS status,
      |    coalesce(d.text, s.text) AS text,
      |    coalesce(d.lang, s.lang) AS lang,
      |    coalesce(d.source, s.source) AS source
      |  FROM documents s FULL OUTER JOIN delta d ON s.doc_id = d.doc_id
      |  WHERE coalesce(d.op, '') <> 'D')
      |SELECT doc_id, status, md5(text) AS content_md5, lang, source
      |FROM merged
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val snap = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val delta = changelog(snap)
    snap.alias("s")
      .join(delta.alias("d"), col("s.doc_id") === col("d.doc_id"), "full_outer")
      .filter(coalesce(col("d.op"), lit("")) =!= "D")
      .select(
        coalesce(col("d.doc_id"), col("s.doc_id")).as("doc_id"),
        when(col("d.doc_id").isNull, "kept")
          .when(col("d.op") === "U", "updated")
          .otherwise("inserted").as("status"),
        md5(coalesce(col("d.text"), col("s.text"))).as("content_md5"),
        coalesce(col("d.lang"), col("s.lang")).as("lang"),
        coalesce(col("d.source"), col("s.source")).as("source"))
      .orderBy(col("doc_id"))
  }

  /** Snapshot diff: v2 is the upserted corpus; the diff full-outer
    * joins v1 vs v2 on the key, classifies each doc by digest
    * comparison, and rolls up per (source, status). Two shuffles
    * total (join + final aggregate) — the crawl-delta audit that
    * decides whether a refresh is sane before it replaces the
    * previous training snapshot.
    */
  val q92SnapshotDiff = QueryDef(
    "q92_snapshot_diff",
    "corpus snapshot diff: per-source added/deleted/changed/unchanged counts via digest compare",
    s"""WITH delta AS ($changelogSql),
      |v2 AS (
      |  SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
      |    coalesce(d.text, s.text) AS text,
      |    coalesce(d.source, s.source) AS source
      |  FROM documents s FULL OUTER JOIN delta d ON s.doc_id = d.doc_id
      |  WHERE coalesce(d.op, '') <> 'D'),
      |diff AS (
      |  SELECT coalesce(a.source, b.source) AS source,
      |    CASE WHEN a.doc_id IS NULL THEN 'added'
      |         WHEN b.doc_id IS NULL THEN 'deleted'
      |         WHEN md5(a.text) <> md5(b.text) THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
      |FROM diff
      |GROUP BY source, status
      |ORDER BY source, status""".stripMargin) { (s, d) =>
    val v1 = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val delta = changelog(v1)
    val v2 = v1.alias("s")
      .join(delta.alias("d"), col("s.doc_id") === col("d.doc_id"), "full_outer")
      .filter(coalesce(col("d.op"), lit("")) =!= "D")
      .select(
        coalesce(col("d.doc_id"), col("s.doc_id")).as("doc_id"),
        coalesce(col("d.text"), col("s.text")).as("text"),
        coalesce(col("d.source"), col("s.source")).as("source"))
    v1.alias("a")
      .join(v2.alias("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.source"), col("b.source")).as("source"),
        when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "deleted")
          .when(md5(col("a.text")) =!= md5(col("b.text")), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  /** 16-bit Morton (Z-order) interleave of two 8-bit dims — disjoint
    * bit targets, so the OR-fold is a plain sum and stays inside
    * whole-stage codegen (shifts + masks only, no UDF).
    */
  private def zorder8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      (shiftrightunsigned(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftrightunsigned(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  private def zorder8Sql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Z-order layout audit: orders are clustered by the Morton code of
    * (customer bucket, order day), the curve is cut into 256 equal
    * z-ranges ("files"), and the audit reports each file's row count
    * and per-dimension min/max span — exactly the footer stats a
    * scan planner prunes on. Because the curve preserves 2-D
    * locality, every file covers a bounded rectangle in BOTH dims, so
    * a predicate on either customer OR date prunes most files; a
    * row-order or single-key sort gives that for one dim only. At
    * 100 TB the write side is `repartitionByRange(zval)` +
    * per-file parquet min/max footers; this query is the layout's
    * effectiveness audit and is engine-exact (integer bit arithmetic,
    * fixed-width z-range cut — no sampled partitioner in the result).
    */
  val q94ZorderLayout = QueryDef(
    "q94_zorder_layout",
    "Z-order (Morton) layout audit: per-z-range row counts and dim spans for scan pruning",
    s"""WITH dims AS (
      |  SELECT o_orderkey, o_custkey % 256 AS x,
      |         date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) % 256 AS y
      |  FROM orders),
      |z AS (SELECT o_orderkey, x, y, ${zorder8Sql("x", "y")} AS zval FROM dims)
      |SELECT CAST(zval // 256 AS BIGINT) AS zfile,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
      |  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max,
      |  CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT) AS cell_span
      |FROM z
      |GROUP BY zfile
      |ORDER BY zfile""".stripMargin) { (s, d) =>
    val dims = Tables.orders(s, d)
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(256L)).as("x"),
        pmod(datediff(to_date(col("o_orderdate")), lit("1992-01-01")), lit(256))
          .cast("long").as("y"))
    dims
      .select(col("o_orderkey"), col("x"), col("y"),
        zorder8(col("x"), col("y")).as("zval"))
      .groupBy((col("zval") / 256).cast("long").as("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("cell_span",
        (col("x_max") - col("x_min") + 1) * (col("y_max") - col("y_min") + 1))
      .orderBy(col("zfile"))
  }

  /** SCD Type-2 dimension build — the warehouse-standard "history
    * table": each user's event_type stream becomes versioned rows
    * with [effective_from, effective_to) validity and an is_current
    * flag. Two stages, ONE key shuffle: change detection (lag over
    * the user timeline drops no-op versions — consecutive repeats of
    * the same state are not new versions) then effective ranges
    * (lead/row_number over the SAME partitioning, so Catalyst plans
    * both windows on one exchange). At 100 TB the key (user/entity
    * id) is high-cardinality, so the window partitioning is the
    * natural parallel unit — no global sort, no driver state.
    */
  val q115ScdType2 = QueryDef(
    "q115_scd_type2",
    "SCD Type-2 build: versioned state history with effective ranges + is_current, one key shuffle",
    """WITH h AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT user_id, ts, event_id, event_type FROM h
      |      WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS INT) AS version_n,
      |  event_type AS state,
      |  ts AS effective_from,
      |  lead(ts) OVER w AS effective_to,
      |  lead(ts) OVER w IS NULL AS is_current
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version_n""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"),
        row_number().over(w).cast("int").as("version_n"),
        col("event_type").as("state"),
        col("ts").as("effective_from"),
        lead(col("ts"), 1).over(w).as("effective_to"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
      .orderBy(col("user_id"), col("version_n"))
  }

  /** Incremental materialized-view maintenance — the delta-merge that
    * keeps a per-(lang, source) rollup current WITHOUT rescanning the
    * corpus: the base view (computed once from the v1 snapshot) is
    * merged with per-key contributions derived from the CDC changelog
    * alone (+1/+chars for inserts, −1/−chars for deletes, char DIFF
    * for updates — old values come from a delta-sized key join back
    * to the snapshot, never a second corpus scan).
    *
    * The ORACLE recomputes the view from the fully-upserted v2 corpus
    * (q91's merge), so the hash gate proves the algebraic identity
    * incremental(base, Δ) ≡ full-recompute(v2) — the correctness
    * contract of every incremental-view engine. At 100 TB the base
    * aggregate is a stored table and ONLY the changelog is processed
    * per refresh; all sums are integer (counts + char counts).
    */
  val q130ViewMaintenance = QueryDef(
    "q130_view_maintenance",
    "incremental view maintenance: base rollup + changelog delta contributions ≡ full recompute from v2 (oracle-proven)",
    s"""WITH delta AS ($changelogSql),
      |v2 AS (
      |  SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
      |    coalesce(d.text, s.text) AS text,
      |    coalesce(d.lang, s.lang) AS lang,
      |    coalesce(d.source, s.source) AS source
      |  FROM documents s FULL OUTER JOIN delta d ON s.doc_id = d.doc_id
      |  WHERE coalesce(d.op, '') <> 'D')
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  -- coalesce: a group whose surviving texts are all NULL
      |  -- reports 0 chars, matching the incremental side's exact
      |  -- integer delta arithmetic
      |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars
      |FROM v2
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    val snap = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = snap.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("b_docs"),
        sum(length(col("text")).cast("long")).as("b_chars"))
    // old values for U/D come from a DELTA-sized key join, not a scan
    val old = snap.select(col("doc_id"), length(col("text")).cast("long").as("old_len"))
    val contrib = changelog(snap)
      .join(old, Seq("doc_id"), "left_outer")
      .select(col("lang"), col("source"),
        when(col("op") === "I", 1L).when(col("op") === "D", -1L)
          .otherwise(0L).as("d_docs"),
        // null-safe lengths: an Update that REPLACES text with NULL
        // must still retract the old length (a bare NULL−old would
        // drop the whole delta from the sum), and a NULL old side
        // contributes zero — NULL text counts as zero chars
        when(col("op") === "I",
          coalesce(length(col("text")).cast("long"), lit(0L)))
          .when(col("op") === "D", -coalesce(col("old_len"), lit(0L)))
          .otherwise(coalesce(length(col("text")).cast("long"), lit(0L))
            - coalesce(col("old_len"), lit(0L)))
          .as("d_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_chars")).as("d_chars"))
    // NULL-SAFE merge keys: a (NULL-lang, src) group exists on BOTH
    // sides under a NULL-bearing feed, and a plain equi full-outer
    // would emit it twice (base row + contrib row) instead of merging
    // — the engine-side twin of SQL's GROUP BY null-as-group
    val cc = contrib
      .withColumnRenamed("lang", "c_lang")
      .withColumnRenamed("source", "c_source")
    base.join(cc,
        col("lang") <=> col("c_lang") && col("source") <=> col("c_source"),
        "full_outer")
      .select(coalesce(col("lang"), col("c_lang")).as("lang"),
        coalesce(col("source"), col("c_source")).as("source"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("b_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
          .as("total_chars"))
      .filter(col("n_docs") > 0)
      .orderBy(col("lang"), col("source"))
  }

  /** Order-independent dataset fingerprint — the O(1)-output
    * equality check dataset versioning runs BEFORE any expensive
    * diff: per source (plus a rollup total), the modular sum of
    * per-row content hashes. Two snapshots with equal (n_docs,
    * n_chars, fp62) per source are content-identical up to hash
    * collision; a mismatch localizes WHICH source changed, and only
    * then does a pipeline pay for q92/q182's row-level diff. The sum
    * is commutative/associative, so the fingerprint is independent
    * of partitioning, file order, and row order — the property that
    * makes it comparable across engines, layouts, and reshards
    * (an ordered digest like md5-of-concat is not).
    *
    * Scale shape: pure map-side hashing (`portable_hash64`, native
    * codegen'd, of id|lang|text) + ONE partial-aggregable rollup
    * aggregate — nothing shuffles but d+1 rows of partials per task.
    * Arithmetic: hashes are normalized to their unsigned value in
    * DECIMAL(38,0) (DuckDB's mix64 chain naturally yields [0, 2⁶⁴));
    * the exact sum holds to ~9·10¹⁸ rows, and the final `pmod 2⁶²`
    * fits BIGINT for the cross-engine hash compare.
    */
  val q196DatasetFingerprint = QueryDef(
    "q196_dataset_fingerprint",
    "order-independent per-source content fingerprint (modular hash sum + rollup total)",
    """WITH ph AS (
      |  SELECT source, n_chars,
      |    CAST(list_reduce(list_transform(
      |           string_split(concat_ws('|', CAST(doc_id AS VARCHAR), lang, text), ''),
      |           c -> CAST(ascii(c) AS BIGINT)),
      |         (a, x) -> (a*31 + x) % 1000000007) AS HUGEINT) AS z
      |  FROM documents),
      |m1 AS (SELECT source, n_chars, (xor(z, z >> 30) * 2685821657736338717) % 18446744073709551616 AS z FROM ph),
      |m2 AS (SELECT source, n_chars, (xor(z, z >> 27) * 1181783497276652981) % 18446744073709551616 AS z FROM m1),
      |hh AS (SELECT source, n_chars, xor(z, z >> 31) AS h FROM m2)
      |SELECT coalesce(source, '*') AS source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(h) % 4611686018427387904 AS BIGINT) AS fp62
      |FROM hh
      |GROUP BY ROLLUP (source)
      |ORDER BY source""".stripMargin) { (s, d) =>
    GraftFunctions.register(s)
    val two64 = lit("18446744073709551616").cast("decimal(38,0)")
    val h = call_function("portable_hash64",
      concat_ws("|", col("doc_id").cast("string"), col("lang"), col("text")))
    val hu = {
      val hd = h.cast("decimal(38,0)")
      when(hd < 0, hd + two64).otherwise(hd)
    }
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"), hu.as("hu"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        pmod(sum(col("hu")),
          lit("4611686018427387904").cast("decimal(38,0)"))
          .cast("long").as("fp62"))
      .select(coalesce(col("source"), lit("*")).as("source"),
        col("n_docs"), col("total_chars"), col("fp62"))
      // SQL emits the () grand-total row even over empty input
      .unionByName(graft.api.Degenerate.emptyGrandTotal(
        Tables.documents(s, d), Seq(
          lit("*").as("source"),
          lit(0L).as("n_docs"),
          lit(null).cast("long").as("total_chars"),
          lit(null).cast("long").as("fp62"))))
      .orderBy(col("source"))
  }

  /** VACUUM planning — the retention step every time-travel store
    * (lakehouse table, MVCC history) runs against its version
    * history: with a retention watermark W, a version stays iff it is
    * CURRENT or still visible to a time-travel query at-or-after W
    * (effective_to > W); versions wholly superseded before W are
    * garbage. The report is the per-key GC plan — version counts,
    * collectable counts, and the first surviving version — the
    * numbers a vacuum job logs before it deletes anything.
    *
    * Rides q115's SCD2 shape (same per-user change extraction and
    * versioning windows — user_id is high-cardinality so every task
    * stays busy), then ONE partial-aggregable per-user rollup.
    * Watermark is a fixed literal (UTC both engines, the q70
    * convention).
    */
  val q223VacuumPlan = QueryDef(
    "q223_vacuum_plan",
    "time-travel vacuum plan over the SCD2 history: per user, versions collectable under a retention watermark",
    """WITH h AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT user_id, ts, event_id, event_type FROM h
      |      WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id,
      |        CAST(row_number() OVER w AS INT) AS version_n,
      |        lead(ts) OVER w AS effective_to
      |      FROM c
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |k AS (SELECT user_id, version_n,
      |        effective_to IS NULL OR
      |          effective_to > TIMESTAMP '2024-01-20 00:00:00' AS keep
      |      FROM v)
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_versions,
      |  CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_gc,
      |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_keep,
      |  CAST(min(CASE WHEN keep THEN version_n END) AS INT) AS keep_from_version
      |FROM k GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val versions = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"),
        row_number().over(w).cast("int").as("version_n"),
        lead(col("ts"), 1).over(w).as("effective_to"))
    versions
      .withColumn("keep", col("effective_to").isNull ||
        col("effective_to") > lit("2024-01-20 00:00:00").cast("timestamp"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_gc"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        min(when(col("keep"), col("version_n"))).as("keep_from_version"))
      .orderBy(col("user_id"))
  }

  /** Right-to-be-forgotten erasure audit — the GDPR/CCPA compliance
    * pass a deletion request triggers BEFORE any row is touched: for
    * the requesting subjects (the q56 modulus idiom stands in for a
    * request table: custkey ≡ 0 mod 97), enumerate every affected row
    * ACROSS the schema graph — the subject's own rows, their orders,
    * those orders' lineitems, and their event stream — and report per
    * table the subject count, row count, and corpus share. The audit
    * is the deliverable (legal sign-off needs the blast radius);
    * actually deleting is then four anti-joins against the same keys.
    *
    * Scale shape: a deletion-request set is SMALL BY NATURE (humans
    * file requests), so the subject keys broadcast and every affected
    * table pays one broadcast semi-join scan — never a shuffle of the
    * fact tables; the lineitem hop joins against the REQUESTERS'
    * order keys (bounded by requests × orders-per-customer, still
    * broadcastable — and carrying the subject key through the hop
    * gives per-subject lineage for free). Totals for the share bp are
    * metadata-cheap count aggregates unioned driver-side (4 rows).
    */
  val q233ErasureAudit = QueryDef(
    "q233_erasure_audit",
    "right-to-be-forgotten audit: per-table subject/row blast radius of a deletion-request set, share in bp",
    """WITH req AS (SELECT c_custkey AS subj FROM customer WHERE c_custkey % 97 = 0),
      |co AS (SELECT c_custkey AS subj FROM customer
      |       JOIN req ON req.subj = c_custkey),
      |oo AS (SELECT o_orderkey, o_custkey AS subj FROM orders
      |       JOIN req ON req.subj = o_custkey),
      |ll AS (SELECT l.l_orderkey, oo.subj FROM lineitem l
      |       JOIN oo ON oo.o_orderkey = l.l_orderkey),
      |ee AS (SELECT user_id AS subj FROM events WHERE user_id % 97 = 0),
      |per AS (
      |  SELECT 'customer' AS tbl,
      |    CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST((SELECT count(*) FROM customer) AS BIGINT) AS total FROM co
      |  UNION ALL
      |  SELECT 'events', CAST(count(DISTINCT subj) AS BIGINT),
      |    CAST(count(*) AS BIGINT),
      |    CAST((SELECT count(*) FROM events) AS BIGINT) FROM ee
      |  UNION ALL
      |  SELECT 'lineitem', CAST(count(DISTINCT subj) AS BIGINT),
      |    CAST(count(*) AS BIGINT),
      |    CAST((SELECT count(*) FROM lineitem) AS BIGINT) FROM ll
      |  UNION ALL
      |  SELECT 'orders', CAST(count(DISTINCT subj) AS BIGINT),
      |    CAST(count(*) AS BIGINT),
      |    CAST((SELECT count(*) FROM orders) AS BIGINT) FROM oo)
      |SELECT tbl, n_subjects, n_rows,
      |  -- mirror the Spark side's empty-table guard (advisor find,
      |  -- round 12): 0-row table → 0 bp, not a divide-by-zero
      |  CAST(CASE WHEN total = 0 THEN 0
      |            ELSE (10000 * n_rows) // total END AS BIGINT) AS share_bp
      |FROM per ORDER BY tbl""".stripMargin) { (s, d) =>
    val req = Tables.customer(s, d)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("subj"))
    val co = Tables.customer(s, d)
      .join(broadcast(req), col("subj") === col("c_custkey"))
      .select(col("subj"))
    val oo = Tables.orders(s, d)
      .join(broadcast(req), col("subj") === col("o_custkey"))
      .select(col("o_orderkey"), col("subj"))
    val ll = Tables.lineitem(s, d).select(col("l_orderkey"))
      .join(broadcast(oo), col("o_orderkey") === col("l_orderkey"))
      .select(col("subj"))
    val ee = Tables.events(s, d)
      .filter(col("user_id") % 97 === 0)
      .select(col("user_id").as("subj"))
    def row(tbl: String, hits: DataFrame, total: DataFrame): DataFrame =
      hits.agg(countDistinct(col("subj")).as("n_subjects"),
          count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(total.agg(count(lit(1)).as("total"))))
        .select(lit(tbl).as("tbl"), col("n_subjects"), col("n_rows"),
          // empty-table guard (EmptyInputSpec): 0-row table → 0 bp
          when(col("total") === 0L, lit(0L))
            .otherwise(expr("(10000 * n_rows) div total")).as("share_bp"))
    row("customer", co, Tables.customer(s, d))
      .unionAll(row("events", ee, Tables.events(s, d)))
      .unionAll(row("lineitem", ll, Tables.lineitem(s, d)))
      .unionAll(row("orders", oo, Tables.orders(s, d)))
      .orderBy(col("tbl"))
  }

  val all: Seq[QueryDef] =
    Seq(q91ChangelogUpsert, q92SnapshotDiff, q94ZorderLayout, q115ScdType2,
      q130ViewMaintenance, q196DatasetFingerprint, q223VacuumPlan,
      q233ErasureAudit)
}
