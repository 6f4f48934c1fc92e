package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.2 Streaming rows).
  *
  * Each transform takes an unbounded `DataFrame` with the `events`
  * schema (`ts timestamp, user_id long, event_type string, value
  * double`) and returns a streaming `DataFrame` — the batch twins in
  * `graft.queries.TemporalQueries` (q42–q44) run the same window
  * expressions over bounded data and carry the DuckDB oracles; these
  * add watermarks (bounded state, late-data drop) for true streams.
  * The reference has no streaming surface (its one socket exchange,
  * worker_manager.c:198-230, is shuffle transport, not a source);
  * this is north-star extension surface.
  *
  * Scale: all state here is keyed and watermark-bounded — state store
  * partitions follow `spark.sql.shuffle.partitions`, so the same code
  * runs with RocksDB state stores on a large cluster.
  */
object StreamingOps {

  /** Tumbling 1h window counts with a watermark: late events older
    * than `lateness` beyond the max seen event time are dropped and
    * window state older than that is evicted.
    */
  def tumblingCounts(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Sliding 1h/30m window counts with a watermark. */
  def slidingCounts(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("n"), col("total"))

  /** Session windows (gap-based) per user with a watermark — the
    * streaming form of q44_session_window.
    */
  def sessionCounts(events: DataFrame, gap: String = "12 hours",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  // ---- custom stateful processing (flatMapGroupsWithState) ----

  case class Event(ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Long, lastTs: Long, nEvents: Long, total: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total: Double)

  /** Custom per-key session aggregation with explicit state — the
    * arbitrary-stateful-processing hook (`flatMapGroupsWithState`)
    * that generalizes the built-in session window: here each emitted
    * session also carries a running `sum(value)`, something
    * `session_window` alone can't produce per custom logic. Sessions
    * are emitted when the event-time watermark passes their gap
    * timeout. State is one small record per active user — bounded.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMs: Long): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.lastTs + gapMs),
              s.nEvents, s.total))
          } else {
            // fold the batch's events into the open session; close and
            // emit whenever a gap larger than `gapMs` appears
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastTs + gapMs), s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  // ---- transformWithState (Spark 4 arbitrary-state API) ----

  /** Running per-user event count + value total via the
    * `StatefulProcessor` API — the successor to
    * `flatMapGroupsWithState` with composable typed state variables.
    * Requires the RocksDB state store provider (set by callers; see
    * StreamingSpec).
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, (Long, Long, Double)] {
    @transient private var totals
        : org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      totals = getHandle.getValueState[(Long, Double)](
        "totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Double)] = {
      val (pn, pv) = if (totals.exists()) totals.get() else (0L, 0.0)
      var n = pn
      var total = pv
      rows.foreach { e => n += 1; total += e.value }
      totals.update((n, total))
      Iterator((key, n, total))
    }
  }

  /** Stateful per-key DEBOUNCE — the true streaming twin of q226's
    * batch read (where [[dedupedEvents]]' `dropDuplicatesWithinWatermark`
    * drops exact-duplicate rows, this drops ANY event arriving within
    * `windowMs` of the same (user, type) key's previous event): one
    * last-seen-timestamp `ValueState` per key, each event compares to
    * its immediate predecessor — kept or not — exactly the q226
    * semantics, so a replay of the same events produces the same
    * survivors (batch-twin equivalence pinned in StreamingSpec).
    * Rows within a micro-batch sort by event time per key, so
    * arrival-order jitter inside a batch never changes the decision.
    *
    * Ordering contract (round-11 ADVICE): batch-twin equivalence
    * additionally assumes events arrive IN ORDER ACROSS micro-batches
    * per key — an event landing in a later batch with an EARLIER
    * event time than the stored lastSeen compares against the wrong
    * predecessor (the spec exercises ordered batches; guard upstream
    * with a watermark + sort, or accept processing-order semantics).
    *
    * State bound: with `ttl = TTLConfig.NONE` (the exact
    * replay-equivalence default) per-key state never expires — fine
    * for bounded key spaces like (user, type), but an UNBOUNDED key
    * space needs [[debouncedEvents]]' `stateTtlMs`, which expires a
    * key's lastSeen after that much PROCESSING time without events.
    * Expiry is semantically safe in the no-skew case: a key silent
    * longer than `windowMs` of real time would have its next event
    * KEPT anyway, so the only divergence from the unttl'd run is on
    * events replayed/skewed more than the TTL behind processing time.
    */
  class DebounceProcessor(windowMs: Long,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), Event, Event] {
    @transient private var lastSeen
        : org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lastSeen = getHandle.getValueState[Long](
        "lastSeen",
        org.apache.spark.sql.Encoders.scalaLong,
        ttl)
    }

    override def handleInputRows(
        key: (Long, String),
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Event] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val out = scala.collection.mutable.ArrayBuffer.empty[Event]
      var last = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (last == Long.MinValue || t - last > windowMs) out += e
        // the predecessor is the previous EVENT, kept or dropped —
        // the debounce (not throttle) semantics q226 mirrors
        last = t
      }
      lastSeen.update(last)
      out.iterator
    }
  }

  /** Stateful ORDERED-FUNNEL tracker — the streaming twin of q97's
    * batch funnel (view → click → purchase, each step STRICTLY after
    * the previous one's timestamp, so purchase-before-view never
    * converts): per user one (current step, last step time) ValueState;
    * each event advances the funnel iff it is the next step's type and
    * strictly later, emitting (user, step, step time) exactly when a
    * step completes. A sequential strictly-after scan in event-time
    * order reaches each step at the MINIMUM qualifying timestamp, so
    * the emitted step times equal q97's min-aggregation definition
    * (stream≡batch pinned in StreamingSpec). Rows within a micro-batch
    * sort by event time; the in-order-ACROSS-batches assumption is the
    * same as [[DebounceProcessor]]'s and is documented there.
    */
  class FunnelProcessor(steps: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, (Long, Int, java.sql.Timestamp)] {
    @transient private var prog
        : org.apache.spark.sql.streaming.ValueState[(Int, Long)] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      prog = getHandle.getValueState[(Int, Long)](
        "prog",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Int, java.sql.Timestamp)] = {
      var (step, lastTs) =
        if (prog.exists()) prog.get() else (0, Long.MinValue)
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Int, java.sql.Timestamp)]
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        if (step < steps.length && e.event_type == steps(step) &&
            (step == 0 || e.ts.getTime > lastTs)) {
          step += 1
          lastTs = e.ts.getTime
          out += ((key, step, e.ts))
        }
      }
      prog.update((step, lastTs))
      out.iterator
    }
  }

  /** Streaming ordered funnel per user; default steps = q97's. */
  def funnelEvents(spark: SparkSession, events: Dataset[Event],
      steps: Seq[String] = Seq("view", "click", "purchase"))
      : Dataset[(Long, Int, java.sql.Timestamp)] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(steps),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming debounce per (user, type); default window = q226's
    * 10 minutes. `stateTtlMs > 0` bounds per-key state for unbounded
    * key spaces (expire lastSeen after that much processing time
    * without events — see [[DebounceProcessor]] for when that is
    * safe); TTL requires processing-time mode, so the time mode
    * follows the choice.
    */
  def debouncedEvents(spark: SparkSession, events: Dataset[Event],
      windowMs: Long = 600000L, stateTtlMs: Long = 0L): Dataset[Event] = {
    import spark.implicits._
    val (ttl, mode) =
      if (stateTtlMs > 0)
        (org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(stateTtlMs)),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
      else
        (org.apache.spark.sql.streaming.TTLConfig.NONE,
          org.apache.spark.sql.streaming.TimeMode.None())
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new DebounceProcessor(windowMs, ttl), mode,
        OutputMode.Append())
  }

  /** Streaming running totals per user on the new API. */
  def runningTotals(spark: SparkSession,
      events: Dataset[Event]): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming Misra–Gries heavy hitters — the q87/`FreqTopKAgg`
    * sketch as CONTINUOUS state: per event_type, a capacity-bounded
    * counter map over user_ids lives in a `MapState` and absorbs each
    * micro-batch incrementally, so the deterministic sketch guarantee
    * (true count − N/(cap+1) ≤ sketch count ≤ true count, every key
    * with frequency > N/(cap+1) present) holds over the WHOLE stream
    * prefix, not per batch. State is ≤ `capacity` entries per key
    * REGARDLESS of stream length — the bounded-state contract that
    * makes the operator runnable forever, and exactly what a
    * watermarkless `groupBy(user).count()` cannot promise.
    */
  class HeavyHittersProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, (String, Long, Long)] {
    @transient private var counters
        : org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      counters = getHandle.getMapState[Long, Long](
        "mg",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long)] = {
      // hydrate the bounded state (≤ capacity entries) locally,
      // absorb the batch with the classic MG step, write back once
      val m = scala.collection.mutable.LongMap.empty[Long]
      counters.iterator().foreach { case (u, c) => m(u) = c }
      rows.foreach { e =>
        val u = e.user_id
        if (m.contains(u)) m(u) += 1L
        else if (m.size < capacity) m(u) = 1L
        else {
          // decrement-all: every tracked count drops by one, zeros
          // evict — the step that buys the N/(cap+1) error bound
          val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
          m.foreach { case (k, c) =>
            if (c == 1L) dead += k else m(k) = c - 1L
          }
          dead.foreach(m.remove)
        }
      }
      counters.clear()
      m.foreach { case (u, c) => counters.updateValue(u, c) }
      m.iterator.map { case (u, c) => (key, u, c) }
    }
  }

  /** Streaming heavy hitters per event_type (Update mode: each batch
    * re-emits the keys' current counter maps).
    */
  def heavyHitters(spark: SparkSession, events: Dataset[Event],
      capacity: Int = 8): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new HeavyHittersProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Timer-driven sessionization on the `transformWithState` API —
    * the successor of [[sessionize]]'s `flatMapGroupsWithState`
    * version, using EVENT-TIME TIMERS as the session-close mechanism:
    * each batch re-arms a timer at lastTs + gap, and the session is
    * emitted from `handleExpiredTimer` once the watermark passes it.
    * Stale timers (a session extended after its old timer was armed)
    * are recognized by comparing the firing expiry against the
    * state's CURRENT deadline — no timer bookkeeping list needed.
    * State is one record per active key, deleted on close.
    */
  class TimerSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      st = getHandle.getValueState[SessionState](
        "sess", org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      var s = if (st.exists()) st.get() else null
      rows.foreach { e =>
        val t = e.ts.getTime
        s = if (s == null) SessionState(t, t, 1L, e.value)
        else SessionState(math.min(s.start, t), math.max(s.lastTs, t),
          s.nEvents + 1L, s.total + e.value)
      }
      if (s != null) {
        st.update(s)
        getHandle.registerTimer(s.lastTs + gapMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      if (!st.exists()) Iterator.empty
      else {
        val s = st.get()
        // a stale timer from before the session was extended fires
        // early — the session's CURRENT deadline is still ahead
        if (expiredTimerInfo.getExpiryTimeInMs < s.lastTs + gapMs)
          Iterator.empty
        else {
          st.clear()
          Iterator(SessionOut(key,
            new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.lastTs + gapMs),
            s.nEvents, s.total))
        }
      }
    }
  }

  /** Timer-closed sessions per user (Append mode — a session row is
    * final once its close timer fires).
    */
  def timerSessions(spark: SparkSession, events: Dataset[Event],
      gapMs: Long): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Greenwald–Khanna sketch state: the classic (v, g, Δ) tuple list
    * as parallel sequences (flat product encoder) plus the stream-
    * prefix count. Size is O((1/ε)·log(εN)) REGARDLESS of stream
    * length — the bounded-state contract.
    */
  case class GkState(n: Long, vs: Seq[Double], gs: Seq[Long], ds: Seq[Long])

  /** Streaming quantile monitor — the CONTINUOUS twin of q112's
    * batch `approx_percentile` (GK sketch) gate, and the latency/SLO
    * monitor every event pipeline runs: per key, a Greenwald–Khanna
    * ε-sketch lives in `ValueState`, absorbs each micro-batch
    * (insert + one compress pass), and re-emits the key's current
    * p50/p95 with the GK guarantee — emitted value's rank within
    * ±εN of the target — over the WHOLE stream prefix, not per
    * batch. The emitted `state_size` makes the bounded-state
    * contract observable from the outside (the spec pins it), the
    * same way a watermarkless exact percentile over a raw buffer
    * could not be bounded.
    *
    * Determinism note: within-batch insertion order depends on
    * shuffle arrival, so two runs may emit different (equally valid)
    * ε-approximations — consumers get the BOUND, not a bit-exact
    * value; the spec asserts exactly that contract (SURVEY §5's
    * no-DuckDB-twin class).
    */
  class QuantileMonitorProcessor(eps: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, (String, Long, Double, Double, Int)] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[GkState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      st = getHandle.getValueState[GkState](
        "gk",
        org.apache.spark.sql.Encoders.product[GkState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    // tuples as a mutable buffer of (v, g, delta), sorted by v
    /** Merge a whole micro-batch into the sketch in ONE pass: sort the
      * batch once, then walk (existing tuples × sorted new values) in
      * ascending order. Each new value gets the GK insert tuple
      * (g=1, Δ=max(0,⌊2εn⌋−1) interior — the −1 keeps the invariant
      * g+Δ ≤ 2εn exactly, not εN+½ — Δ=0 at the running min/max,
      * which is what one-at-a-time ascending insertion would assign).
      * Compress interleaves every ⌈1/(2ε)⌉ inserts so the working
      * buffer stays O((1/ε)·log(εN)) instead of growing by the whole
      * batch: O(B log B + B·log(εN)) per key per batch, not O(B²).
      * Mid-merge compress uses the running n — the band only widens
      * as n grows, so every surviving tuple also satisfies the final-n
      * invariant.
      */
    private def mergeBatch(
        old: scala.collection.mutable.ArrayBuffer[(Double, Long, Long)],
        batch: Array[Double], n0: Long)
        : (scala.collection.mutable.ArrayBuffer[(Double, Long, Long)], Long) = {
      java.util.Arrays.sort(batch)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]
      var n = n0
      var i = 0 // cursor into old (already sorted by v)
      var j = 0 // cursor into sorted batch
      var sinceCompress = 0
      val compressEvery = math.max(1, math.ceil(1.0 / (2 * eps)).toInt)
      while (j < batch.length) {
        val v = batch(j)
        while (i < old.length && old(i)._1 <= v) { out += old(i); i += 1 }
        val delta =
          if (out.isEmpty || i == old.length) 0L // running min / running max
          else math.max(0L, math.floor(2 * eps * n).toLong - 1)
        out += ((v, 1L, delta))
        n += 1
        j += 1
        sinceCompress += 1
        if (sinceCompress >= compressEvery) { compress(out, n); sinceCompress = 0 }
      }
      while (i < old.length) { out += old(i); i += 1 }
      compress(out, n)
      (out, n)
    }

    private def compress(
        buf: scala.collection.mutable.ArrayBuffer[(Double, Long, Long)],
        n: Long): Unit = {
      val band = math.floor(2 * eps * n).toLong
      // merge right-to-left; index 0 is kept so the minimum survives
      var i = buf.length - 2
      while (i >= 1) {
        val (_, gi, _) = buf(i)
        val (v1, g1, d1) = buf(i + 1)
        if (gi + g1 + d1 <= band) {
          buf(i + 1) = (v1, gi + g1, d1)
          buf.remove(i)
        }
        i -= 1
      }
    }

    private def query(
        buf: scala.collection.mutable.ArrayBuffer[(Double, Long, Long)],
        n: Long, phi: Double): Double = {
      val r = math.ceil(phi * n).toLong
      val bound = eps * n
      var acc = 0L
      var i = 0
      while (i < buf.length) {
        acc += buf(i)._2
        if (acc + buf(i)._3 > r + bound)
          return buf(math.max(0, i - 1))._1
        i += 1
      }
      buf.last._1
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Double, Double, Int)] = {
      val prev = Option(st.get()).getOrElse(GkState(0L, Nil, Nil, Nil))
      val old = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]
      prev.vs.indices.foreach(i => old += ((prev.vs(i), prev.gs(i), prev.ds(i))))
      val (buf, n) = mergeBatch(old, rows.map(_.value).toArray, prev.n)
      st.update(GkState(n, buf.map(_._1).toSeq, buf.map(_._2).toSeq,
        buf.map(_._3).toSeq))
      if (n == 0) Iterator.empty
      else Iterator.single(
        (key, n, query(buf, n, 0.5), query(buf, n, 0.95), buf.length))
    }
  }

  /** HLL register state: 2^P = 64 six-bit registers as a fixed-size
    * byte sequence — bounded REGARDLESS of how many distinct values
    * the stream carries, which is the whole point vs a per-key
    * `dropDuplicates`-style exact state that grows with cardinality.
    */
  case class HllState(regs: Seq[Byte])

  /** Streaming approximate DISTINCT COUNT per key — completes the
    * streaming sketch trio next to [[HeavyHittersProcessor]]
    * (Misra–Gries frequencies) and [[QuantileMonitorProcessor]]
    * (GK quantiles): a 64-register HyperLogLog in `ValueState`
    * absorbing each micro-batch (register max-merge — commutative and
    * idempotent, so retries and batch splits never double-count) and
    * re-emitting the key's whole-stream-prefix distinct estimate plus
    * the CONSTANT state size that makes the bounded-state contract
    * observable. m = 64 gives the standard ~1.04/√m ≈ 13% relative
    * error — the ops-counter regime (distinct users per event type),
    * not the billing regime; the batch twin with an exact oracle is
    * q46's approx_count_distinct.
    *
    * Determinism: values hash through the fixed mix64 chain, and
    * register max is order-independent — unlike the GK sketch, two
    * runs of ANY interleaving emit the SAME estimate, which the spec
    * pins (merge-order invariance is what makes HLL the canonical
    * distributed-sketch example).
    */
  class DistinctCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, (String, Long, Int)] {
    private val P = 6
    private val M = 1 << P // 64 registers

    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[HllState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      st = getHandle.getValueState[HllState](
        "hll",
        org.apache.spark.sql.Encoders.product[HllState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def estimate(regs: Array[Byte]): Long = {
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < M) {
        sum += math.pow(2.0, -regs(i).toDouble)
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      val alpha = 0.709 // alpha_64
      val raw = alpha * M * M / sum
      // small-range (linear counting) correction below 2.5m
      val est =
        if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
        else raw
      math.round(est)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Int)] = {
      val prev = Option(st.get()).map(_.regs.toArray)
        .getOrElse(new Array[Byte](M))
      rows.foreach { e =>
        val h = graft.plans.Mix64.mix(e.user_id)
        val idx = (h & (M - 1)).toInt
        // rank of the first 1-bit in the remaining 64−P bits (1-based:
        // all-zero remainder = 64−P observed zero bits ⇒ rho 64−P+1,
        // the canonical estimator's convention)
        val rest = h >>> P
        val rho = (if (rest == 0L) 64 - P + 1
                   else java.lang.Long.numberOfTrailingZeros(rest) + 1).toByte
        if (rho > prev(idx)) prev(idx) = rho
      }
      st.update(HllState(prev.toSeq))
      Iterator.single((key, estimate(prev), M))
    }
  }

  /** Streaming distinct users per event_type (Update mode: each batch
    * re-emits the key's whole-prefix HLL estimate + register count).
    */
  def distinctMonitor(spark: SparkSession, events: Dataset[Event])
      : Dataset[(String, Long, Int)] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new DistinctCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming p50/p95 per event_type (Update mode: each batch
    * re-emits the keys' current sketch quantiles + state size).
    */
  def quantileMonitor(spark: SparkSession, events: Dataset[Event],
      eps: Double = 0.05): Dataset[(String, Long, Double, Double, Int)] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new QuantileMonitorProcessor(eps),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming exact dedup — the ingest-time twin of q33's batch
    * dedup: drop events identical on (user_id, event_type, ts) while
    * their event time is within the watermark, with per-key state
    * evicted once the watermark passes (bounded state, unlike plain
    * `dropDuplicates` whose state grows forever on a stream).
    */
  def dedupedEvents(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")

  /** Stream-stream interval join: attribute each click to the same
    * user's preceding view within `within` — the canonical two-stream
    * temporal correlation (batch twin with DuckDB oracle:
    * q62_attribution). Both sides are watermarked and the join
    * condition bounds click_ts to a view_ts range, so Spark can evict
    * buffered rows once the watermark passes — state stays bounded.
    */
  def attributedClicks(events: DataFrame, within: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value"))
      .withWatermark("click_ts", lateness)
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("value"))
  }

  /** Streaming canonical-URL dedup — the ingest-time face of q177:
    * a crawl stream of (ts, url, ...) fetches keeps only the FIRST
    * fetch of each canonical URL within the watermark horizon.
    * Canonicalization ([[graft.functions.UrlFunctions]]) is
    * map-side codegen'd string work, so the only state is the
    * dedup key store, evicted by the watermark —
    * `dropDuplicatesWithinWatermark` keyed on the canonical form,
    * exactly the `dedupedEvents` contract with a derived key. At
    * crawl scale the canonical URL is high-cardinality, so state
    * shards evenly; the horizon bounds it (a re-fetch later than
    * `lateness` re-enters — the standard re-crawl semantics: q182
    * diffs those).
    */
  def dedupedFetches(fetches: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    fetches
      .withColumn("canon_url",
        graft.functions.UrlFunctions.canonicalizeUrl(col("url")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Stream-stream LEFT OUTER interval join — the question
    * [[attributedClicks]]'s inner join cannot answer: which
    * impressions NEVER converted (round-9 verdict task 4). Each view
    * joins the same user's clicks within `within`; a view with no
    * matching click is emitted with NULL click columns — but only
    * once BOTH watermarks have passed the end of its join interval
    * (view_ts + within + lateness), because until then a matching
    * click could still arrive. That state-eviction contract is the
    * distinct thing this operator adds over the inner form: unmatched
    * emission is driven by watermark EXPIRY, not by data arrival, so
    * results trail the stream by the interval+lateness horizon —
    * StreamingSpec pins exactly-once emission at expiry and across a
    * checkpoint kill/restart.
    *
    * State stays bounded for the same reason as the inner join: the
    * time-range condition lets Spark evict buffered views and clicks
    * once the watermark passes; state is keyed on user_id, which is
    * high-cardinality — no hot single key at 100 TB.
    */
  def viewConversions(events: DataFrame, within: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value"))
      .withWatermark("click_ts", lateness)
    views.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
        "left_outer")
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("value"),
        col("click_ts").isNotNull.as("converted"))
  }

  /** Stream-stream FULL OUTER attribution join — completes the
    * streaming join matrix (inner `attributedClicks`, left outer
    * [[viewConversions]]): unconverted views AND orphan clicks (a
    * click with no preceding view inside the window — the attribution
    * leak a funnel dashboard must surface, e.g. bot traffic or a lost
    * impression stream) each emit null-padded EXACTLY ONCE when both
    * watermarks pass their horizon. Same state-eviction emission
    * contract as the left join: unmatched rows are held in the state
    * store until no future match is possible, so the join stays
    * exactly-once across checkpoint restarts.
    */
  def viewClickFullOuter(events: DataFrame, within: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("view_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value"))
      .withWatermark("click_ts", lateness)
    views.join(clicks,
        col("view_user") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
        "full_outer")
      .select(coalesce(col("view_user"), col("click_user")).as("user_id"),
        col("view_ts"), col("click_ts"), col("value"),
        when(col("view_ts").isNotNull && col("click_ts").isNotNull, "converted")
          .when(col("click_ts").isNull, "unconverted_view")
          .otherwise("orphan_click").as("outcome"))
  }

  /** Stream-static enrichment join: each arriving event looks up its
    * user's dimension row (segment, tier, ...) in a STATIC table —
    * the canonical streaming-ETL enrichment. Stream-static joins are
    * STATELESS in Spark (the static side is planned per micro-batch,
    * re-broadcast if small), so there is no watermark, no state
    * store, and no eviction concern — at 100 TB of stream the only
    * scaling knob is the dimension side, which `broadcast()` pins to
    * a map-side hash join exactly like its batch twin (q04).
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left_outer")

  /** Streaming ingest NEAR-dup dedup — the stream twin of
    * [[graft.api.IncrementalDedup]]: every arriving micro-batch of
    * documents (`doc_id long, text string`) probes the persistent
    * corpus index via `foreachBatch` (the canonical reuse-the-batch-
    * pipeline pattern), hands its verified near-dup pairs to `sink`,
    * then APPENDS itself to the index so later batches dedup against
    * earlier ones too. State lives in the parquet index, not the
    * state store — unbounded corpus, bounded executor memory; at
    * 100 TB the probe cost per batch is O(batch + candidates),
    * independent of corpus size.
    */
  def ingestDedupStream(
      docs: DataFrame, indexDir: String, threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: java.lang.Long) =>
        val spark = batch.sparkSession
        val ix = graft.api.IncrementalDedup.readIndex(spark, indexDir)
        // one postings pass serves BOTH the probe and the append
        graft.Reuse.within(graft.queries.DedupQueries.shinglePostingsOf(batch.toDF())) { posts =>
          sink(graft.api.IncrementalDedup.probePairs(posts, ix, threshold), id)
          // foreachBatch is at-least-once: a replayed batch must not
          // re-append (the index would grow duplicate rows forever).
          // A per-batch marker committed AFTER the append makes the
          // append idempotent; the probe side is already replay-safe
          // (probePairs drops same-id pairs, so a batch that reached
          // the index before the crash never matches itself).
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
          val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_batches/$id")
          if (!fs.exists(marker)) {
            graft.api.IncrementalDedup.writeFrom(posts, indexDir,
              org.apache.spark.sql.SaveMode.Append)
            fs.create(marker, true).close()
          }
        }
    }

  /** File-based streaming source over the driver's parquet events —
    * `readStream` with `availableNow` semantics turns the bounded
    * table into a replayed stream (the socket-source analogue of
    * reference R4 for batch-testable pipelines).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the streaming file source wants a directory: stream the sf dir
    // filtered to the events file(s)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    // same ts-encoding normalization as Tables.events (nanos-as-LONG
    // and TIMESTAMP_NTZ generations both appear in driver testdata);
    // watermarks demand TimestampType, so NTZ must be relabeled here too
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
