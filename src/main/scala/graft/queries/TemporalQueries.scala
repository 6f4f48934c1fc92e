package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Event-time operators over `events` (SURVEY.md §2.2 EXT): as-of
  * join and the batch twins of the streaming window family (tumbling /
  * sliding / session). The same window expressions run unchanged
  * under `readStream` (see graft.streaming); batch execution here
  * gives them a DuckDB oracle.
  */
object TemporalQueries {

  /** As-of join: each purchase matched to the latest view of the same
    * user at or before it. Implemented as the union–window idiom: tag
    * both sides, sort by (ts, tag) within user, carry the last
    * non-null view forward — one shuffle on user_id, no range join,
    * no per-key driver logic; identical dataflow at any scale.
    * `last(_, ignoreNulls)` over the tagged union is the standard
    * scalable as-of plan (a sort-merge within hash partitions).
    */
  val q40AsofJoin = QueryDef(
    "q40_asof_join",
    "as-of join: latest view ≤ each purchase per user (union + last ignoreNulls idiom)",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, ts, event_id AS view_id FROM events WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id, v.view_id,
      |       epoch_us(p.ts) - epoch_us(v.ts) AS us_since_view
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        col("event_id"), lit(null).cast("long").as("view_id"),
        lit(null).cast("timestamp").as("vts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionAll(v)
      .withColumn("m_view", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("m_vts", last(col("vts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("m_view").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("m_vts"))).as("us_since_view"))
      .orderBy(col("event_id"))
  }

  /** Tumbling 1-hour event-time windows — `window()` start aligns to
    * the epoch exactly like DuckDB's `time_bucket`.
    */
  val q42TumblingWindow = QueryDef(
    "q42_tumbling_window",
    "tumbling 1h event-time windows: count + sum(value) per window × type",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
      |  count(*) AS n, round(sum(value), 4) AS total
      |FROM events
      |GROUP BY ws, event_type
      |ORDER BY ws, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total"))
      .orderBy(col("ws"), col("event_type"))
  }

  /** Sliding 1h/30m windows: each event belongs to exactly two
    * windows; the oracle enumerates both starts per event
    * (`time_bucket` with and without a 30-minute phase shift).
    */
  val q43SlidingWindow = QueryDef(
    "q43_sliding_window",
    "sliding 1h windows every 30m: count + sum(value) per window",
    """SELECT ws, count(*) AS n, round(sum(value), 4) AS total
      |FROM (
      |  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
      |                 time_bucket(INTERVAL '1 hour', ts - INTERVAL '30 minutes')
      |                   + INTERVAL '30 minutes']) AS ws,
      |         value
      |  FROM events)
      |GROUP BY ws
      |ORDER BY ws""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("window.start").as("ws"), col("n"), col("total"))
      .orderBy(col("ws"))
  }

  /** Session windows (12h inactivity gap) per user. Spark's
    * `session_window` end = last event + gap; the oracle reproduces
    * it with the gaps-and-islands idiom, which is also the exact
    * semantics Structured Streaming's session window implements.
    * Sessions are HALF-OPEN [start, last+gap): an event landing
    * exactly at lastTs+gap starts a NEW session, hence the oracle's
    * `>=` gap condition.
    */
  val q44SessionWindow = QueryDef(
    "q44_session_window",
    "session windows (12h gap) per user: start, end, event count",
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '12 hours'
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (SELECT user_id, ts,
      |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                         ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM g)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL '12 hours' AS session_end,
      |       count(*) AS n_events
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Two-stream temporal correlation, batch form: attribute each
    * click to every preceding view by the same user within 24 hours —
    * the batch twin (with exact oracle) of the watermarked
    * stream-stream interval join in
    * `StreamingOps.attributedClicks` (StreamingSpec pins the
    * streaming semantics; this pins the values). Plan shape: equi
    * join on user_id with the time range as a residual predicate —
    * shuffle by user, never a cross join, so it scales with user
    * cardinality.
    */
  val q62Attribution = QueryDef(
    "q62_attribution",
    "interval self-join: clicks attributed to same-user views within 24h",
    """WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
      |           FROM events WHERE event_type = 'view'),
      |     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, value
      |           FROM events WHERE event_type = 'click')
      |SELECT v.user_id, v.view_ts, c.click_ts, c.value
      |FROM v JOIN c ON v.user_id = c.user_id
      |  AND c.click_ts >= v.view_ts
      |  AND c.click_ts <= v.view_ts + INTERVAL '24 hours'
      |ORDER BY v.user_id, v.view_ts, c.click_ts, c.value""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("click_ts"), col("value"))
    views.join(clicks,
      col("user_id") === col("cu") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 24 hours"))
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("value"))
      .orderBy(col("user_id"), col("view_ts"), col("click_ts"), col("value"))
  }

  /** Calendar-spine gap filling: a generated hourly spine LEFT-joined
    * to hourly aggregates so silent hours surface as explicit zero
    * rows — the time-series shape dashboards and anomaly detectors
    * need (a groupBy alone cannot emit rows for hours with no
    * events; the spine spans past the data's end so the zero path is
    * actually exercised). The spine is `sequence` + explode — a
    * generated table, no input scan; the join is a broadcast of the
    * tiny spine side.
    */
  val q70TimeSpine = QueryDef(
    "q70_time_spine",
    "hourly spine left join: gap-filled counts incl. empty tail hours",
    """WITH spine AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-28 00:00:00',
      |                                TIMESTAMP '2024-02-02 23:00:00',
      |                                INTERVAL 1 HOUR)) AS hour_start),
      |hourly AS (
      |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour_start,
      |         count(*) AS n, round(sum(value), 4) AS total
      |  FROM events GROUP BY 1)
      |SELECT s.hour_start, CAST(coalesce(h.n, 0) AS BIGINT) AS n,
      |       coalesce(h.total, 0.0) AS total
      |FROM spine s LEFT JOIN hourly h USING (hour_start)
      |ORDER BY s.hour_start""".stripMargin) { (s, d) =>
    val spine = s.range(1).select(explode(sequence(
      lit("2024-01-28 00:00:00").cast("timestamp"),
      lit("2024-02-02 23:00:00").cast("timestamp"),
      expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val hourly = Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("window.start").as("hour_start"), col("n"), col("total"))
    spine.join(hourly, Seq("hour_start"), "left")
      .select(col("hour_start"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total"), lit(0.0)).as("total"))
      .orderBy(col("hour_start"))
  }

  /** Ordered funnel (view → click-after-view → purchase-after-click):
    * stage k counts users whose earliest stage-k event strictly
    * follows their earliest qualifying stage-(k-1) event — the
    * MATCH_RECOGNIZE-style sequence query expressed as staged
    * conditional aggregation. Scale shape: three partial+final
    * aggregates and two key equi-joins, all on user_id — one shuffle
    * key end to end, no window, no per-user sort.
    */
  val q97Funnel = QueryDef(
    "q97_funnel",
    "ordered funnel view->click->purchase: per-stage user counts with strict event ordering",
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t1
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
      |  GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      |  UNION ALL
      |  SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
      |  UNION ALL
      |  SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
      |ORDER BY stage""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click").alias("e")
      .join(v, "user_id")
      .filter(col("e.ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("e.ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").alias("e")
      .join(c, "user_id")
      .filter(col("e.ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("e.ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after_view").as("stage"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
      .orderBy(col("stage"))
  }

  /** Cohort retention: users grouped by signup week, activity counted
    * as distinct users per (cohort week, whole-week offset). Week
    * truncation (Monday) and day-count division are integer-exact in
    * both engines. Scale shape: one aggregate for cohorts, one
    * equi-join on user_id, one distinct-aggregate — the exchange
    * carries (cohort, offset, user) only.
    */
  val q98CohortRetention = QueryDef(
    "q98_cohort_retention",
    "cohort retention matrix: distinct active users per signup-week cohort and week offset",
    """WITH coh AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cw
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id)
      |SELECT CAST(coh.cw AS DATE) AS cohort_week,
      |  CAST(date_diff('day', coh.cw, date_trunc('week', e.ts)) // 7 AS INT) AS week_offset,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      |FROM events e JOIN coh ON coh.user_id = e.user_id
      |WHERE e.ts >= coh.cw
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val coh = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(date_trunc("week", min(col("ts"))).as("cw"))
    ev.alias("e").join(coh, "user_id")
      .filter(col("e.ts") >= col("cw"))
      .select(col("cw").cast("date").as("cohort_week"),
        (datediff(date_trunc("week", col("e.ts")), col("cw")) / 7)
          .cast("int").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Per-user inter-event gap statistics via the MapReduce
    * SECONDARY-SORT idiom ([[graft.api.MapReduce.runSorted]]): one
    * hash exchange on user_id, values sorted inside the shuffle (no
    * extra pass), then a streaming one-pass reducer with O(1) state —
    * no Window operator anywhere (the lag/window form would also
    * work; this query exists to exercise the sorted-reduce contract
    * the reference's sort-merge reducer embodies, reducer.c:23-38).
    * All arithmetic is integer microseconds (unix_micros ↔ epoch_us),
    * and the mean gap is integer floor division, so the oracle
    * hash-matches exactly.
    */
  val q101SecondarySort = QueryDef(
    "q101_secondary_sort",
    "per-user event gap stats via secondary-sort streaming reduce (no window)",
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(max(gap) AS BIGINT) AS max_gap_us,
      |  CAST(sum(gap) // nullif(count(gap), 0) AS BIGINT) AS avg_gap_us
      |FROM g
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val pairs = Tables.events(s, d)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id")).as("v"))
      .as[(Long, (Long, Long))]
    graft.api.MapReduce.runSorted(pairs) { (user, vs) =>
      var n = 0L; var prev = 0L
      var maxG = Long.MinValue; var sumG = 0L
      for ((us, _) <- vs) {
        if (n > 0) { val g = us - prev; if (g > maxG) maxG = g; sumG += g }
        prev = us; n += 1
      }
      (user, n,
        if (n > 1) Some(maxG) else None,
        if (n > 1) Some(sumG / (n - 1)) else None)
    }.toDF("user_id", "n_events", "max_gap_us", "avg_gap_us")
      .orderBy(col("user_id"))
  }

  /** OHLC time-bar downsampling — the market-data resample (and the
    * generic "first/last/extremes per time bucket" reduction any
    * telemetry pipeline runs): 6-hour bars per event_type with
    * open/high/low/close, event count, and integer-cent volume.
    *
    * Scale shape: ONE partial-aggregable shuffle on (type, bucket) —
    * open/close are `min_by`/`max_by` over an INTEGER within-bucket
    * ordering ((ts_µs mod bucket_µs)·1e6 + event_id: unique, overflow
    * -safe because the offset is bucket-bounded), so no per-bucket
    * sort and no window exists anywhere. Volume sums CENTS as longs —
    * no floating aggregate, so partition order can't perturb the
    * hash. first/last-style semantics without ordering guarantees are
    * exactly what `first()`/`last()` do NOT provide under parallel
    * aggregation — the composite-ordered arg-extremes are the
    * deterministic contract.
    */
  val q122OhlcBars = QueryDef(
    "q122_ohlc_bars",
    "OHLC 6-hour bars per event_type: arg-extreme open/close over integer orderings, integer-cent volume, one shuffle",
    """WITH e AS (
      |  SELECT event_type, value, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |b AS (
      |  SELECT event_type, value,
      |    us // 21600000000 AS bucket,
      |    (us % 21600000000) * 1000000 + event_id AS ord
      |  FROM e)
      |SELECT event_type,
      |  make_timestamp(bucket * 21600000000) AS bar_start,
      |  arg_min(value, ord) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  arg_max(value, ord) AS close,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS volume_cents
      |FROM b
      |GROUP BY event_type, bucket
      |ORDER BY event_type, bar_start""".stripMargin) { (s, d) =>
    val barUs = 21600000000L // 6 hours in microseconds
    Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .select(col("event_type"), col("value"),
        expr(s"us div $barUs").as("bucket"),
        (pmod(col("us"), lit(barUs)) * 1000000L + col("event_id")).as("ord"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        // DuckDB arg_min/arg_max skip rows whose ARG is NULL; Spark
        // min_by/max_by skip only NULL ORDERINGS — nulling the
        // ordering when value is NULL pins both engines to the same
        // (non-null) open/close pick (SURVEY §5, fuzz class A)
        min_by(col("value"),
          when(col("value").isNotNull, col("ord"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"),
          when(col("value").isNotNull, col("ord"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("volume_cents"))
      .select(col("event_type"),
        timestamp_micros(col("bucket") * barUs).as("bar_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume_cents"))
      .orderBy(col("event_type"), col("bar_start"))
  }

  /** Forward-fill resampling (LOCF) — the gap-filling twin of q70's
    * zero-fill: every (event_type, hour) grid cell carries the most
    * recent observed value, so downstream consumers see a dense
    * series (the telemetry/market-data "carry the last tick"
    * contract). The fill looks back through the FULL history (grid
    * spans the whole corpus), then only the audit window is emitted —
    * leading cells of the output window inherit from before it.
    *
    * Scale shape: per-hour last-observations are the q122 idiom (one
    * partial-aggregable shuffle, integer within-hour ordering); the
    * LOCF window partitions by SERIES (event_type) — the natural
    * parallel unit; the hour spine is generated metadata, never data.
    */
  val q123ForwardFill = QueryDef(
    "q123_forward_fill",
    "forward-fill (LOCF) hourly resample per event_type: dense grid, last-tick carry, series-partitioned window",
    """WITH spine AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |                                TIMESTAMP '2024-02-02 23:00:00',
      |                                INTERVAL 1 HOUR)) AS hour_start),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (SELECT event_type, hour_start FROM types, spine),
      |e AS (SELECT event_type, value, event_id,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |hourly AS (
      |  SELECT event_type, us // 3600000000 AS bucket,
      |    arg_max(value, (us % 3600000000) * 1000000 + event_id) AS last_obs
      |  FROM e GROUP BY event_type, bucket),
      |h2 AS (SELECT event_type,
      |         make_timestamp(bucket * 3600000000) AS hour_start, last_obs
      |       FROM hourly),
      |filled AS (
      |  SELECT g.event_type, g.hour_start, h.last_obs,
      |    last_value(h.last_obs IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.hour_start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM grid g LEFT JOIN h2 h USING (event_type, hour_start))
      |SELECT event_type, hour_start, filled,
      |  last_obs IS NULL AS is_gap
      |FROM filled
      |WHERE hour_start >= TIMESTAMP '2024-01-28 00:00:00'
      |ORDER BY event_type, hour_start""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val spine = s.range(1).select(explode(sequence(
      lit("2024-01-01 00:00:00").cast("timestamp"),
      lit("2024-02-02 23:00:00").cast("timestamp"),
      expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val types = Tables.events(s, d).select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(spine))
    val hourly = Tables.events(s, d)
      .select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .groupBy(col("event_type"), expr(s"us div $hourUs").as("bucket"))
      // null the ordering when value is NULL — the q122 arg_max
      // parity pin (DuckDB skips NULL args, Spark only NULL orderings)
      .agg(max_by(col("value"),
        when(col("value").isNotNull,
          pmod(col("us"), lit(hourUs)) * 1000000L + col("event_id")))
        .as("last_obs"))
      .select(col("event_type"),
        timestamp_micros(col("bucket") * hourUs).as("hour_start"),
        col("last_obs"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hour_start"), "left")
      .select(col("event_type"), col("hour_start"),
        last(col("last_obs"), ignoreNulls = true).over(w).as("filled"),
        col("last_obs").isNull.as("is_gap"))
      .filter(col("hour_start") >= lit("2024-01-28 00:00:00").cast("timestamp"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Year-over-year growth — the reporting staple: monthly revenue
    * with the % change vs the same month last year (lag 12 over the
    * monthly series).
    *
    * Scale shape: revenue is summed as integer CENTS (the per-row
    * `round(price·(1−disc)·100)` is one fixed-shape double expression
    * cast to long, then ONLY integer sums cross the exchange — a
    * floating `sum(price)` would be summation-order-dependent and
    * never hash-stable). REDUCE-BEFORE-JOIN: lineitem pre-aggregates
    * to one `(l_orderkey, order_cents)` row per order BEFORE meeting
    * orders — integer associativity makes the regrouping exact, and
    * the join shuffle shrinks by the lines-per-order factor (~4× here,
    * the same factor at any scale) while the pre-aggregation itself is
    * partial+final, so the map side combines before its exchange too.
    * The lag window runs on the ~80-row monthly relation — metadata,
    * not data. Growth is `floor(10000·Δ/prev)` basis points — floor
    * (toward −∞) is identical in both engines for negative months.
    */
  val q128YoyGrowth = QueryDef(
    "q128_yoy_growth",
    "year-over-year monthly revenue growth: integer-cent sums, lag-12 over the metadata-sized monthly series",
    """WITH li AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
      |      AS order_cents
      |  FROM lineitem GROUP BY l_orderkey),
      |m AS MATERIALIZED (
      |  -- MATERIALIZED: DuckDB 1.0 missorts a NULL date_trunc group
      |  -- key fed straight from the hash aggregate into a window
      |  -- ORDER BY (ignores NULLS LAST, nondeterministic placement)
      |  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
      |    CAST(sum(order_cents) AS BIGINT) AS revenue_cents
      |  FROM li JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |SELECT month, revenue_cents,
      |  CAST(floor(10000.0 *
      |    (revenue_cents - lag(revenue_cents, 12) OVER (ORDER BY month NULLS LAST))
      |    / lag(revenue_cents, 12) OVER (ORDER BY month NULLS LAST)) AS BIGINT) AS yoy_bp
      |FROM m
      |ORDER BY month""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // reduce-before-join: one row per order crosses the join, not one
    // per lineitem (exact — integer cents sums regroup associatively)
    val li = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("order_cents"))
    val m = li
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate").cast("timestamp"))
        .as("month"))
      .agg(sum(col("order_cents")).as("revenue_cents"))
    // the lag window runs on the ~80-row monthly series only;
    // NULLS LAST pinned on both engines so a NULL month (undated
    // orders) takes the same lag position (SURVEY §5, class A)
    val w = Window.orderBy(col("month").asc_nulls_last)
    m.select(col("month"), col("revenue_cents"),
      floor(lit(10000.0) *
        (col("revenue_cents") - lag(col("revenue_cents"), 12).over(w)) /
        lag(col("revenue_cents"), 12).over(w)).cast("long").as("yoy_bp"))
      .orderBy(col("month"))
  }

  /** SCD point-in-time lookup — the temporal-dimension join every
    * warehouse fact load runs: each fact row picks up the dimension
    * VERSION valid at its event time (here: the state carried by the
    * most recent dimension-feed event at or before the fact's ts; the
    * feed is a deterministic event subset so the lookup is genuinely
    * non-trivial — facts between feed updates inherit the stale
    * version, facts before the first see NULL).
    *
    * Scale shape: the q40 as-of idiom — union facts with the (much
    * smaller) version stream, ONE key shuffle, last-ignoreNulls over
    * the per-user timeline; ties at equal ts sort the dimension row
    * first (tag 0 < 1), matching ASOF's inclusive `<=` exactly. No
    * range join, no per-fact probe.
    */
  val q129ScdLookup = QueryDef(
    "q129_scd_lookup",
    "SCD point-in-time lookup: facts join the dimension version valid at event time via the as-of union idiom",
    """WITH dim AS (SELECT user_id, ts, event_type AS state
      |            FROM events WHERE event_id % 3 = 0),
      |f AS (SELECT event_id, user_id, ts, event_type FROM events)
      |SELECT f.event_id, f.user_id, f.event_type,
      |  d.state AS state_at_event,
      |  epoch_us(f.ts) - epoch_us(d.ts) AS us_since_state
      |FROM f ASOF LEFT JOIN dim d
      |  ON f.user_id = d.user_id AND d.ts <= f.ts
      |ORDER BY f.event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val dim = e.filter(pmod(col("event_id"), lit(3)) === 0)
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("string").as("event_type"),
        col("event_type").as("state"), col("ts").as("sts"))
    val f = e.select(col("user_id"), col("ts"), lit(1).as("tag"),
      col("event_id"), col("event_type"),
      lit(null).cast("string").as("state"),
      lit(null).cast("timestamp").as("sts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE struct pick, not independent last(state)/last(sts): ASOF
    // joins the most recent dim ROW even when its state is NULL —
    // per-column ignoreNulls would instead reach back to an older
    // non-null state (SURVEY §5, fuzz class A/B)
    dim.unionAll(f)
      .withColumn("m",
        last(when(col("tag") === 0, struct(col("sts"), col("state"))),
          ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("m.state").as("state_at_event"),
        (unix_micros(col("ts")) - unix_micros(col("m.sts")))
          .as("us_since_state"))
      .orderBy(col("event_id"))
  }

  /** Interval coalescing (gaps-and-islands) — merge each user's
    * overlapping activity intervals ([ts, ts+5min) around every
    * event) into maximal disjoint spans: the classic "contiguous
    * coverage" reduction behind uptime reports, meeting-room merges,
    * and session stitching with explicit horizons.
    *
    * Scale shape: one key shuffle (the per-user window); island
    * boundaries come from comparing each start to the RUNNING MAX of
    * prior ends (not lag(end) — intervals can nest, so the previous
    * row's end is not the coverage frontier), then islands aggregate
    * by (user, island-id = running sum of boundary flags). Timestamp
    * comparisons are exact in both engines.
    */
  /** The coalesced per-user activity spans q132 (interval merge) and
    * q164 (concurrency sweep) both consume: each event opens a 5-min
    * interval, overlapping/adjacent intervals merge via the running-
    * max-frontier + island-id idiom (one user_id shuffle, per-key
    * windows). Memoized per (session, sf) with `localCheckpoint` —
    * the clusterAssignments / compressedCents convention; at 100 TB
    * the spans table is materialized once and every interval
    * analytic reads it.
    */
  def coalescedSpans(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "temporal.spans:" + d) {
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts").as("s"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("e"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
      iv
        .withColumn("pmax",
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_island"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("span_start"), col("span_end"),
          col("n_events"))
    }

  val q132IntervalMerge = QueryDef(
    "q132_interval_merge",
    "interval coalescing per user: running-max frontier + island-id running sum, one key shuffle",
    """WITH iv AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS s,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              IS NULL
      |           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_island,
      |    event_id
      |  FROM iv),
      |islands AS (
      |  SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS island
      |  FROM flagged)
      |SELECT user_id, min(s) AS span_start, max(e) AS span_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM islands
      |GROUP BY user_id, island
      |ORDER BY user_id, span_start""".stripMargin) { (s, d) =>
    coalescedSpans(s, d).orderBy(col("user_id"), col("span_start"))
  }

  /** Sweep-line interval concurrency — the capacity-planning view of
    * the q132 spans: peak number of simultaneously-active user
    * sessions per hour, the number an operator sizes connection
    * pools / serving replicas against. Classic sweep line: every
    * span contributes (+1 at start, −1 at end), the running sum of
    * deltas IS the concurrency, half-open `[s, e)` semantics (ends
    * sort before starts at the same instant, so back-to-back
    * sessions never double-count). Per-hour peak is
    * max(in-hour transitions, carry-in level at the hour boundary) —
    * the carry is the previous transition-hour's LAST running value,
    * so hours where concurrency only falls are still scored right.
    *
    * The report covers the FULL hour spine from first to last
    * transition hour: an hour with no transitions at all (steady
    * state — exactly the hours a capacity planner sizes against when
    * load saturates) reports peak = the carried concurrency level
    * and n_transitions = 0, not a missing row (round-9 verdict task
    * 6; the pre-spine form silently dropped transition-free
    * saturated hours).
    *
    * Scale shape: the global transition ordering rides
    * `api.Ranking.withRunningTotal` (range repartition + metadata
    * offsets — NEVER the single-reducer `ORDER BY` running sum the
    * SQL twin uses); in-hour last values come from an hour-
    * partitioned window (thousands of partitions, all tasks busy);
    * the spine join, LOCF level carry, and carry lag all run on the
    * ~720-row hourly METADATA relation (calendar-sized at any SF).
    * Determinism: (t, delta, user_id) is a total transition order —
    * per-user merged spans cannot repeat a start or end instant.
    */
  val q164IntervalConcurrency = QueryDef(
    "q164_interval_concurrency",
    "sweep-line session concurrency: +1/-1 deltas, scale-safe running sum, per-hour peak with boundary carry",
    """WITH iv AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS s,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_island, event_id
      |  FROM iv),
      |islands AS (
      |  SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged),
      |spans AS (SELECT user_id, min(s) AS ss, max(e) AS se
      |          FROM islands GROUP BY user_id, island),
      |tr AS (SELECT ss AS t, CAST(1 AS BIGINT) AS delta, user_id FROM spans
      |       UNION ALL SELECT se, CAST(-1 AS BIGINT), user_id FROM spans),
      |c AS (SELECT t, delta, user_id,
      |        CAST(sum(delta) OVER (ORDER BY t, delta, user_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      |      FROM tr),
      |hl AS (SELECT date_trunc('hour', t) AS hour_start, c,
      |         last_value(c) OVER (PARTITION BY date_trunc('hour', t)
      |                             ORDER BY t, delta, user_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lastc
      |       FROM c),
      |hourly AS (SELECT hour_start, CAST(max(c) AS BIGINT) AS peak_in,
      |                  CAST(min(lastc) AS BIGINT) AS lastc,
      |                  CAST(count(*) AS BIGINT) AS n_transitions
      |           FROM hl GROUP BY hour_start),
      |bounds AS (SELECT min(hour_start) AS h0, max(hour_start) AS h1 FROM hourly),
      |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start
      |          FROM bounds),
      |filled AS (
      |  SELECT sp.hour_start, h.peak_in, h.n_transitions,
      |    last_value(h.lastc IGNORE NULLS) OVER (ORDER BY sp.hour_start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvl
      |  FROM spine sp LEFT JOIN hourly h USING (hour_start)),
      |carried AS (
      |  SELECT hour_start, peak_in, n_transitions,
      |    coalesce(lag(lvl) OVER (ORDER BY hour_start), 0) AS carry
      |  FROM filled)
      |SELECT hour_start,
      |  CAST(greatest(coalesce(peak_in, carry), carry) AS BIGINT) AS peak,
      |  CAST(coalesce(n_transitions, 0) AS BIGINT) AS n_transitions
      |FROM carried ORDER BY hour_start""".stripMargin) { (s, d) =>
    val tr = coalescedSpans(s, d)
      .select(col("span_start").as("t"), lit(1L).as("delta"), col("user_id"))
      .unionAll(coalescedSpans(s, d)
        .select(col("span_end").as("t"), lit(-1L).as("delta"), col("user_id")))
    val c = graft.api.Ranking.withRunningTotal(
        tr, Nil, Seq(col("t"), col("delta"), col("user_id")), "delta", "c")
      .drop("grp_n")
    val hw = Window.partitionBy(date_trunc("hour", col("t")))
      .orderBy(col("t"), col("delta"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hl = c.select(date_trunc("hour", col("t")).as("hour_start"), col("c"),
      last(col("c")).over(hw).as("lastc"))
    val hourly = hl.groupBy(col("hour_start"))
      .agg(max(col("c")).as("peak_in"), min(col("lastc")).as("lastc"),
        count(lit(1)).as("n_transitions"))
    // hour spine spanning [first, last] transition hour: a 1-row
    // min/max aggregate exploded to ~720 rows — metadata-sized, so
    // the sequence() never materializes a data-sized array
    val spine = hourly
      .agg(min(col("hour_start")).as("h0"), max(col("hour_start")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("hour_start"))
    // LOCF the hour-end concurrency level across transition-free
    // hours, then lag it one hour for the carry-in; both windows run
    // on the spine-sized relation
    val fw = Window.orderBy(col("hour_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = spine.join(hourly, Seq("hour_start"), "left")
      .select(col("hour_start"), col("peak_in"), col("n_transitions"),
        last(col("lastc"), ignoreNulls = true).over(fw).as("lvl"))
    val mw = Window.orderBy(col("hour_start"))
    filled
      .withColumn("carry", coalesce(lag(col("lvl"), 1).over(mw), lit(0L)))
      .select(col("hour_start"),
        greatest(coalesce(col("peak_in"), col("carry")), col("carry"))
          .as("peak"),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"))
      .orderBy(col("hour_start"))
  }

  /** Linear-interpolation resampling — q123's LOCF carries the last
    * tick flat; the feature-engineering form interpolates BETWEEN the
    * surrounding ticks: at each hourly grid point t,
    * `y = y0 + (y1−y0)·(t−t0)/(t1−t0)` from the last tick at t0 < t
    * (strictly earlier hours) and the first tick at t1 ≥ t. Grid
    * points before the first tick fall back to the next tick, after
    * the last to the previous — no extrapolation.
    *
    * Scale shape: per-hour boundary ticks are the q122 integer-
    * ordered arg-extremes (one partial-aggregable shuffle); the
    * carry windows partition by SERIES (event_type) over the
    * metadata-sized grid — four frame variants sharing ONE exchange
    * (the q115 shared-partitioning shape). The prev/next (us, cents)
    * column pairs are carried by independent IGNORE-NULLS windows,
    * consistent because both columns of a cell are null together.
    *
    * Determinism: tick times and values are exact integers (µs,
    * cents); the interpolation is ONE fixed-shape double expression
    * of four integers, mirrored operation-for-operation and rounded
    * 4dp at output.
    */
  val q146LinearInterp = QueryDef(
    "q146_linear_interp",
    "linear-interpolation hourly resample per event_type: integer boundary ticks, one window exchange",
    """WITH spine AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |                                TIMESTAMP '2024-02-02 23:00:00',
      |                                INTERVAL 1 HOUR)) AS hour_start),
      |types AS (SELECT DISTINCT event_type FROM events),
      |grid AS (SELECT event_type, hour_start FROM types, spine),
      |e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |        event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |hourly AS (
      |  SELECT event_type, us // 3600000000 AS bucket,
      |    arg_max(us, (us % 3600000000) * 1000000 + event_id) AS last_us,
      |    arg_max(cents, (us % 3600000000) * 1000000 + event_id) AS last_cents,
      |    arg_min(us, (us % 3600000000) * 1000000 + event_id) AS first_us,
      |    arg_min(cents, (us % 3600000000) * 1000000 + event_id) AS first_cents
      |  FROM e GROUP BY event_type, bucket),
      |h2 AS (SELECT event_type, make_timestamp(bucket * 3600000000) AS hour_start,
      |              last_us, last_cents, first_us, first_cents
      |       FROM hourly),
      |carried AS (
      |  SELECT g.event_type, g.hour_start,
      |    last_value(h.last_us IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.hour_start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_us,
      |    last_value(h.last_cents IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.hour_start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_cents,
      |    first_value(h.first_us IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.hour_start
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_us,
      |    first_value(h.first_cents IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.hour_start
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_cents
      |  FROM grid g LEFT JOIN h2 h USING (event_type, hour_start)),
      |scored AS (
      |  SELECT event_type, hour_start,
      |    CASE
      |      WHEN p_us IS NOT NULL AND n_us IS NOT NULL AND n_us <> p_us THEN
      |        round(CAST(p_cents AS DOUBLE)
      |          + CAST(n_cents - p_cents AS DOUBLE)
      |            * CAST(epoch_us(hour_start) - p_us AS DOUBLE)
      |            / CAST(n_us - p_us AS DOUBLE), 4)
      |      WHEN p_us IS NOT NULL AND n_us IS NOT NULL THEN CAST(p_cents AS DOUBLE)
      |      WHEN p_us IS NOT NULL THEN CAST(p_cents AS DOUBLE)
      |      WHEN n_us IS NOT NULL THEN CAST(n_cents AS DOUBLE)
      |    END AS interp_cents
      |  FROM carried)
      |SELECT event_type, hour_start, interp_cents
      |FROM scored
      |WHERE hour_start >= TIMESTAMP '2024-01-28 00:00:00'
      |ORDER BY event_type, hour_start""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val spine = s.range(1).select(explode(sequence(
      lit("2024-01-01 00:00:00").cast("timestamp"),
      lit("2024-02-02 23:00:00").cast("timestamp"),
      expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val types = Tables.events(s, d).select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(spine))
    val ord = pmod(col("us"), lit(hourUs)) * 1000000L + col("event_id")
    val hourly = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .groupBy(col("event_type"), expr(s"us div $hourUs").as("bucket"))
      .agg(max_by(col("us"), ord).as("last_us"),
        max_by(col("cents"), ord).as("last_cents"),
        min_by(col("us"), ord).as("first_us"),
        min_by(col("cents"), ord).as("first_cents"))
      .select(col("event_type"),
        timestamp_micros(col("bucket") * hourUs).as("hour_start"),
        col("last_us"), col("last_cents"), col("first_us"), col("first_cents"))
    val base = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
    val wPrev = base.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = grid.join(hourly, Seq("event_type", "hour_start"), "left")
      .select(col("event_type"), col("hour_start"),
        last(col("last_us"), ignoreNulls = true).over(wPrev).as("p_us"),
        last(col("last_cents"), ignoreNulls = true).over(wPrev).as("p_cents"),
        first(col("first_us"), ignoreNulls = true).over(wNext).as("n_us"),
        first(col("first_cents"), ignoreNulls = true).over(wNext).as("n_cents"))
    val tUs = unix_micros(col("hour_start"))
    val interp = round(col("p_cents").cast("double")
      + (col("n_cents") - col("p_cents")).cast("double")
        * (tUs - col("p_us")).cast("double")
        / (col("n_us") - col("p_us")).cast("double"), 4)
    carried
      .select(col("event_type"), col("hour_start"),
        when(col("p_us").isNotNull && col("n_us").isNotNull &&
            col("n_us") =!= col("p_us"), interp)
          .when(col("p_us").isNotNull && col("n_us").isNotNull,
            col("p_cents").cast("double"))
          .when(col("p_us").isNotNull, col("p_cents").cast("double"))
          .when(col("n_us").isNotNull, col("n_cents").cast("double"))
          .as("interp_cents"))
      .filter(col("hour_start") >= lit("2024-01-28 00:00:00").cast("timestamp"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Per-(type, hour) TIME-weighted average over irregular ticks —
    * the metrics/finance read q122's OHLC and q123's grid-LOCF both
    * miss: each tick's value holds until the NEXT tick, so a value
    * that persisted 58 minutes of an hour dominates one that lasted
    * seconds, regardless of tick counts. Standard TWAP with
    * last-tick-carried-forward segments, segments CLIPPED to hour
    * boundaries (a quiet period's long segment spreads over every
    * hour it covers).
    *
    * Scale shape: the next-tick lookup is [[graft.api.Neighbors]]
    * under the global (type, ts, id) total order — q179's primitive
    * on a second domain, NEVER a `lead() OVER (PARTITION BY type)`
    * window (≈5 types = a five-task funnel of the whole corpus); the
    * type boundary is detected from the packed neighbor value and the
    * last segment of each type ends at that type's max ts (zero
    * length — dropped, the TWAP-to-last-tick convention). Hour
    * clipping is a bounded `sequence` explode (a segment touches
    * ⌈gap/hour⌉ hours, calendar-bounded); the aggregate is one
    * partial-aggregable (type, hour) shuffle.
    *
    * Exactness: integer µs × integer cents everywhere; weights per
    * (type, hour) sum to ≤ 3.6·10⁹ µs exactly; the weighted sum runs
    * in DECIMAL(38,0)/HUGEINT (10⁶·Σy·w passes 2⁶³ at ~10⁵
    * same-hour segments of max value — the q159 widening convention)
    * and the single division is floor-on-nonnegative.
    */
  val q194Twap = QueryDef(
    "q194_twap",
    "per-(type, hour) time-weighted average: LOCF segments via scale-safe Neighbors, hour-clipped integer weights",
    """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |                 event_id, CAST(round(value * 100) AS BIGINT) AS y
      |          FROM events),
      |nx AS (SELECT event_type, t, y,
      |         lead(t) OVER (PARTITION BY event_type ORDER BY t, event_id) AS nt
      |       FROM e),
      |en AS (SELECT event_type, max(t) AS end_t FROM e GROUP BY event_type),
      |seg AS (SELECT n.event_type, n.y, n.t AS t0,
      |          coalesce(n.nt, en.end_t) AS t1
      |        FROM nx n JOIN en ON en.event_type = n.event_type
      |        WHERE coalesce(n.nt, en.end_t) > n.t),
      |hrs AS (SELECT event_type, y, t0, t1,
      |          unnest(range(t0 // 3600000000, (t1 - 1) // 3600000000 + 1)) AS h
      |        FROM seg),
      |w AS (SELECT event_type, h, y,
      |        least(t1, (h + 1) * 3600000000) - greatest(t0, h * 3600000000) AS w
      |      FROM hrs),
      |g AS (SELECT event_type, h,
      |        CAST(sum(CAST(y AS HUGEINT) * w) AS HUGEINT) AS yw,
      |        CAST(sum(w) AS BIGINT) AS covered_us,
      |        CAST(count(*) AS BIGINT) AS n_segments
      |      FROM w GROUP BY event_type, h)
      |SELECT event_type, make_timestamp(h * 3600000000) AS hour_start,
      |  CAST((1000000 * yw) // covered_us AS BIGINT) AS twap_microcents,
      |  covered_us, n_segments
      |FROM g
      |ORDER BY event_type, hour_start""".stripMargin) { (s, d) =>
    val H = 3600000000L
    val e = Tables.events(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("t"), col("event_id"),
      expr("cast(round(value * 100) as bigint)").as("y"))
    val packed = e.withColumn("pk",
      struct(col("event_type").as("ty"), col("t").as("nt")))
    val withN = graft.api.Neighbors.withNeighbors(packed,
      Seq(col("event_type"), col("t"), col("event_id")),
      "pk", "prevPk", "nextPk")
    val ends = e.groupBy(col("event_type")).agg(max(col("t")).as("end_t"))
    val seg = withN.join(broadcast(ends), "event_type")
      .withColumn("t1",
        when(col("nextPk.ty") === col("event_type"), col("nextPk.nt"))
          .otherwise(col("end_t")))
      .filter(col("t1") > col("t"))
      .select(col("event_type"), col("y"), col("t").as("t0"), col("t1"))
    seg
      .withColumn("h", explode(sequence(
        expr(s"t0 div ${H}L"), expr(s"(t1 - 1) div ${H}L"))))
      .withColumn("w",
        least(col("t1"), (col("h") + 1) * H) -
          greatest(col("t0"), col("h") * H))
      .groupBy(col("event_type"), col("h"))
      .agg(
        sum(col("y").cast("decimal(38,0)") * col("w")).as("yw"),
        sum(col("w")).as("covered_us"),
        count(lit(1)).as("n_segments"))
      .select(col("event_type"),
        timestamp_micros(col("h") * H).as("hour_start"),
        expr("cast((1000000 * yw) div covered_us as bigint)")
          .as("twap_microcents"),
        col("covered_us"), col("n_segments"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Ingest-time event DEDUP (debounce) — the batch twin of
    * `StreamingOps`' `dropDuplicatesWithinWatermark`: client retries
    * and at-least-once delivery produce near-identical events seconds
    * apart, and an ingest layer drops any event within 10 min of the
    * SAME user's previous event of the same type (the standard
    * debounce read — each event compares to its immediate
    * predecessor, exactly what the streaming state store does with
    * its last-seen timestamp). Per event type: volumes, duplicates,
    * dup share in bp, survivors — the ingest-quality dashboard row.
    *
    * Exactness: gaps are exact integer microseconds (unix_micros ↔
    * epoch_us, the q194 convention); all counts exact.
    *
    * Scale shape: one lag over (user_id, event_type)-partitioned
    * windows — high-cardinality keys, every task busy, never a global
    * sort — then one partial-aggregable per-type rollup.
    */
  val q226EventDedup = QueryDef(
    "q226_event_dedup",
    "ingest debounce dedup: events within 10min of the same (user, type) predecessor flagged, per-type dup share in bp",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts))
      |      OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(*) FILTER (gap_us IS NOT NULL AND gap_us <= 600000000)
      |    AS BIGINT) AS n_dups,
      |  CAST((10000 * count(*) FILTER (gap_us IS NOT NULL AND gap_us <= 600000000))
      |    // count(*) AS BIGINT) AS dup_bp,
      |  CAST(count(*) FILTER (gap_us IS NULL OR gap_us > 600000000)
      |    AS BIGINT) AS n_kept
      |FROM g GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, d)
      .select(col("event_type"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("gap_us"))
    val isDup = col("gap_us").isNotNull && col("gap_us") <= 600000000L
    g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(isDup, 1L).otherwise(0L)).as("n_dups"),
        expr("(10000 * sum(CASE WHEN gap_us IS NOT NULL AND gap_us <= 600000000 THEN 1 ELSE 0 END)) div count(1)")
          .as("dup_bp"),
        sum(when(!isDup, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("event_type"))
  }

  val all: Seq[QueryDef] = Seq(
    q40AsofJoin, q42TumblingWindow, q43SlidingWindow, q44SessionWindow,
    q62Attribution, q70TimeSpine, q97Funnel, q98CohortRetention,
    q101SecondarySort, q122OhlcBars, q123ForwardFill, q128YoyGrowth,
    q129ScdLookup, q132IntervalMerge, q146LinearInterp,
    q164IntervalConcurrency, q194Twap, q226EventDedup)
}
