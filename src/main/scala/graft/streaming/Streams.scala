package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode,
  TimerValues, TTLConfig}
import java.sql.Timestamp

/** Structured Streaming rebuild of the reference's two pipelines
  * (SURVEY.md §3 EP1/EP2) plus exact Beam trigger/pane parity (§7.4.1).
  *
  * Batch/stream unification: these transforms are plain `DataFrame =>
  * DataFrame` functions (the reference's `PTransform` idiom, O12) and run
  * identically on a batch frame or a `readStream` frame — Beam's unified
  * model, natively.
  *
  * Micro-batch sinks: every `foreachBatch` streaming twin starts through
  * one seam, `eachBatch`, and lands each micro-batch's output under
  * `<dir>/batch_id=<id>` through `writeBatchDir`, which byte-replaces that
  * directory. A batch the engine re-runs after a failure carries the same
  * id, so it replaces its own earlier output instead of appending
  * duplicates: replayable sources plus these idempotent sinks give
  * end-to-end exactly-once output (the reference's retry-surviving append,
  * `Demo1.java:96-97`). Sinks that also READ their own earlier output
  * (the grow variants) exclude their own batch id on the read side.
  *
  * Checkpoints: `appendToParquet` and `eachBatch` start through `start`,
  * which makes [[LocalCheckpointFs]] the session's `file:` FileContext
  * unless the session or its Hadoop conf names one. The offset log, commit
  * log, source and sink logs and the state store all build their
  * checkpoint file manager from the query's session Hadoop conf, which
  * `start()` clones, so the setting must be in place before it. Hadoop's
  * stock `LocalFs` forks a `readlink` or `chmod` process for each
  * checkpoint rename and create on a host without `libhadoop.so`.
  */
object Streams {

  /** Demo1 (`Demo1.java:52-72`): JSON payload → typed record with derived
    * `processing_time`, malformed input dropped (from_json yields NULL, or
    * a record without `event_time`), pipeline continues. Input needs a
    * string column `payload`.
    *
    * One parse per row: the `parse_audit` observation (input and malformed
    * counts — the reference's per-failure log as metrics, published in every
    * micro-batch's `observedMetrics`) sits between the parse and the filter,
    * and its CollectMetrics node is the pushdown barrier. Without it,
    * Catalyst rewrites the filter and projection in terms of
    * `from_json(payload)` and the parse runs once per referenced field.
    */
  def demo1ParseEtl(messages: DataFrame): DataFrame =
    messages
      .select(from_json(col("payload"), Tables.wireSchema).as("m"))
      .observe("parse_audit",
        count(lit(1)).as("n_input"),
        sum(when(col("m").isNull || col("m.event_time").isNull, 1L).otherwise(0L))
          .as("n_malformed"))
      .filter(col("m").isNotNull && col("m.event_time").isNotNull)
      .select(
        timestamp_seconds(col("m.event_time")).as("event_time"),
        current_timestamp().as("processing_time"),
        col("m.user_id"),
        col("m.click"))

  /** Demo2 (`Demo2.java:136-160`): event-time 1-minute tumbling windows,
    * per-(window,user) counts. The single `withWatermark` delay folds Beam's
    * allowed timestamp skew (1 min, `Demo2.java:138`) and allowed lateness
    * (1 min, `Demo2.java:156`) into their conservative union of 2 minutes
    * (SURVEY.md §7.4.2). In Append mode the pane fires exactly when the
    * watermark passes the window end — Beam's `AfterWatermark` main firing.
    * Input: a frame with `event_time: timestamp` and `user_id`.
    */
  def demo2WindowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("user_id"), col("cnt"))

  /** Streaming twin of `BeamParity.slidingWindowCount` (5-minute windows,
    * 1-minute slide): identical grouping and aggregate expressions, plus
    * the watermark that lets Append mode fire each overlapping window when
    * the event-time frontier passes its end. The StreamingSpec replays the
    * events fixture through a MemoryStream and asserts the fired panes
    * equal the batch twin's rows exactly.
    */
  def slidingWindowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming twin of `BeamParity.sessionWindowCount` (5-minute gap
    * sessions per user): `session_window` merges a user's state as events
    * arrive — out of order included — and Append mode emits a session only
    * once the watermark passes `session end + gap`, i.e. once no on-time
    * event can extend it. Same StreamingSpec replay-parity contract.
    */
  def sessionWindowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("event_time", "2 minutes")
      .groupBy(session_window(col("event_time"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("cnt"))

  // ------------------------------------------------------------- late panes

  case class Msg(event_time: Timestamp, user_id: Int)
  case class Pane(window_start: Timestamp, user_id: Int, cnt: Long, pane: String)
  case class PaneState(buffered: Long, fired: Boolean)

  private val WindowMs = 60000L
  private val HorizonMs = 2 * 60000L // = the 2-minute watermark delay

  /** Exact Beam trigger parity (O7/O9, `Demo2.java:153-157`):
    * `AfterWatermark.pastEndOfWindow().withLateFirings(...)` with
    * *discarding* fired panes, which neither Append (fires once) nor Update
    * (cumulative) mode reproduces.
    *
    * Timescale mapping: Spark's watermark (delayed by the 2-minute horizon)
    * plays the role of Beam's *allowed-lateness* bound — rows older than it
    * are dropped before this function runs, exactly Beam's late-data drop.
    * Beam's (undelayed) watermark is therefore `spark watermark + horizon`,
    * so the on-time firing "Beam watermark passes the window end" becomes an
    * event-time timer at `windowEnd - horizon` on Spark's timescale. Late
    * events — in the window but after its on-time firing, within the
    * horizon — still pass Spark's row filter and produce immediate
    * delta-only LATE panes (discarding semantics, `Demo2.java:157`). State
    * is GC'd when the Spark watermark itself passes the window end (no row
    * for the window can survive the filter after that).
    */
  def latePanes(parsed: Dataset[Msg]): Dataset[Pane] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .withWatermark("event_time", "2 minutes")
      .groupByKey(m => (m.user_id, m.event_time.getTime / WindowMs * WindowMs))
      .flatMapGroupsWithState[PaneState, Pane](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((uid, wstart), events, state: GroupState[PaneState]) =>
          val windowEnd = wstart + WindowMs
          val fireAt = windowEnd - HorizonMs // Beam watermark = spark wm + horizon
          if (state.hasTimedOut) {
            val st = state.get
            if (!st.fired) {
              // Beam watermark passed the window end: main on-time firing
              val out = Iterator.single(Pane(new Timestamp(wstart), uid, st.buffered, "ON_TIME"))
              if (state.getCurrentWatermarkMs() < windowEnd) {
                state.update(PaneState(0L, fired = true))
                state.setTimeoutTimestamp(windowEnd) // GC when rows can no longer arrive
              } else state.remove()
              out
            } else {
              state.remove() // lateness horizon passed: GC
              Iterator.empty
            }
          } else {
            val n = events.size.toLong
            val alreadyFired = state.exists && state.get.fired
            if (alreadyFired) {
              // after the on-time pane: immediate late firing, delta only
              Iterator.single(Pane(new Timestamp(wstart), uid, n, "LATE"))
            } else if (state.getCurrentWatermarkMs() >= fireAt) {
              // first data arrived after the Beam watermark already passed the
              // window end (empty on-time pane): emit as a late delta pane
              state.update(PaneState(0L, fired = true))
              state.setTimeoutTimestamp(windowEnd)
              Iterator.single(Pane(new Timestamp(wstart), uid, n, "LATE"))
            } else {
              // before the on-time firing: buffer and arm the firing timer
              val prev = state.getOption.map(_.buffered).getOrElse(0L)
              state.update(PaneState(prev + n, fired = false))
              state.setTimeoutTimestamp(fireAt)
              Iterator.empty
            }
          }
      }
  }

  /** One emitted top-k snapshot row. */
  case class TopK(event_type: String, rank: Int, user_id: Int, cnt: Long)

  /** Streaming per-key top-k (trending users per event type) with BOUNDED
    * state: a SpaceSaving summary (Metwally et al., "Efficient computation
    * of frequent and top-k elements in data streams") of at most k×slack
    * counters per key, in a `MapState` via transformWithState.
    *
    * Per batch: the ≤ k×slack counters are loaded (a bounded read, not a
    * full-cardinality materialization), incoming rows increment their
    * counter or — when the summary is full — evict the minimum counter and
    * take over its count + 1. The refreshed top-k snapshot is emitted for
    * each key that received data.
    *
    * Guarantees (standard SpaceSaving): every counter overestimates its
    * item's true count by at most the evicted minimum ≤ n/(k×slack); any
    * item whose true count exceeds that bound is retained. So the emitted
    * top-k is exact whenever the true top-k counts clear n/(k×slack) — the
    * skewed trending-keys regime this operator exists for — and state is
    * O(k×slack) per event type REGARDLESS of user cardinality, which is
    * what survives 100 TB/day: distinct users never touch the state size.
    */
  class TopKProcessor(k: Int, slack: Int = 4)
      extends StatefulProcessor[String, (String, Int), TopK] {
    private val capacity = k * slack
    @transient private var counts: org.apache.spark.sql.streaming.MapState[Int, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Int, Long]("counts",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Int)],
        tv: TimerValues): Iterator[TopK] = {
      val m = scala.collection.mutable.Map.empty[Int, Long]
      counts.iterator().foreach { case (uid, c) => m(uid) = c } // ≤ capacity rows
      val loaded = m.keySet.toSet
      rows.foreach { case (_, uid) =>
        m.get(uid) match {
          case Some(c) => m(uid) = c + 1L
          case None if m.size < capacity => m(uid) = 1L
          case None => // evict the minimum counter, inherit its count
            val (minU, minC) = m.minBy { case (u, c) => (c, u) }
            m.remove(minU)
            m(uid) = minC + 1L
        }
      }
      (loaded -- m.keySet).foreach(counts.removeKey)
      m.foreach { case (u, c) => counts.updateValue(u, c) }
      m.toSeq
        .sortBy { case (uid, c) => (-c, uid) }
        .take(k).iterator.zipWithIndex
        .map { case ((uid, c), i) => TopK(key, i + 1, uid, c) }
    }
  }

  def streamingTopK(events: Dataset[(String, Int)], k: Int, slack: Int = 4)
      : Dataset[TopK] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TopKProcessor(k, slack),
        TimeMode.None(), OutputMode.Append())
  }

  /** One emitted funnel snapshot: the user's deepest ordered stage so far
    * (0 none / 1 view / 2 view→click / 3 full funnel) with the qualifying
    * first-event timestamps (epoch µs; -1 = not reached).
    */
  case class FunnelStage(user_id: Long, stage: Int, t1: Long, t2: Long, t3: Long)

  /** Per-user funnel summary: the first qualifying view/click/purchase
    * times so far (epoch µs; `Long.MaxValue` = step not reached). Each is
    * monotone non-increasing as evidence accumulates, which is what makes
    * the compaction in [[FunnelProcessor]] exact.
    */
  case class FunnelSummary(t1: Long, t2: Long, t3: Long)

  /** Streaming counterpart of `TimeSeries.eventFunnel` — the same ordered
    * view → click → purchase semantics (a step qualifies only with an event
    * STRICTLY AFTER the previous step's first qualifying event), maintained
    * incrementally per user and INVARIANT TO ARRIVAL ORDER: a late-arriving
    * earlier view lowers t1, which can re-qualify earlier clicks, so state
    * keeps the evidence needed for exact revision. Each batch that touches
    * a user emits their refreshed snapshot (Update-style semantics on the
    * Append channel, like the top-k processor's snapshots).
    *
    * State bound (the 100 TB story): runs in `TimeMode.EventTime` behind a
    * watermark whose delay is the funnel's lateness horizon. The summary is
    * O(1) per user; the click/purchase lists hold only evidence that could
    * still revise the summary, and everything older than the horizon is
    * provably dead weight, because with watermark W (µs):
    *  - t1 only decreases, and every future view arrives ≥ W, so
    *    t1_final ≥ min(t1, W) =: L — a click ≤ L can never satisfy
    *    "strictly after the first view". Clicks > t1 are already folded
    *    into t2 (t2 = min click > t1, so none lie in (t1, t2)). Hence the
    *    click list keeps exactly (L, t1].
    *  - t2_final ≥ min(t2, min kept click, W) =: F (it is t2, a kept click
    *    re-qualified by a lower t1, or a future arrival ≥ W), so a
    *    purchase ≤ F can never qualify; purchases ≥ t3 can never beat the
    *    monotone-decreasing t3. Hence the purchase list keeps (F, t3).
    * Both kept intervals drain as W advances; an event-time timer at the
    * newest kept timestamp re-runs the compaction when the watermark
    * passes it (the [[latePanes]] GC pattern), so an idle user's lists
    * empty instead of lingering. A hot user's lists are bounded by
    * horizon × their arrival rate, never by lifetime history.
    */
  /** @param idleRetentionMs event-time idle retention for the O(1)
    *   per-user summary: once a user's evidence lists have drained AND the
    *   watermark has advanced `idleRetentionMs` past their last touch, the
    *   summary row is dropped too, so total state is bounded by the ACTIVE
    *   key population, not by every user ever seen (the StateDrill ramp).
    *   A dropped user who returns restarts at stage 0 — the standard
    *   sessionization retention trade. The default (`Long.MaxValue`) keeps
    *   summaries forever: exact arrival-order-invariant parity with the
    *   batch funnel, the replay-spec contract. */
  class FunnelProcessor(idleRetentionMs: Long = Long.MaxValue)
      extends StatefulProcessor[Long, (Long, String, Long, Timestamp), FunnelStage] {
    // 0 would silently mean keep-forever below (the overflow guard would
    // suppress the timer) — the exact opposite of "expire immediately".
    // Refuse it loudly; immediate expiry is not a meaningful retention
    // for event-time state anyway (use a small positive horizon).
    require(idleRetentionMs > 0,
      s"idleRetentionMs must be positive (Long.MaxValue = keep forever); got $idleRetentionMs")
    private val Inf = Long.MaxValue
    @transient private var summary: org.apache.spark.sql.streaming.ValueState[FunnelSummary] = _
    @transient private var clicks: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var purchases: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      summary = getHandle.getValueState[FunnelSummary]("summary",
        Encoders.product[FunnelSummary], TTLConfig.NONE)
      clicks = getHandle.getListState[Long]("clicks", Encoders.scalaLong, TTLConfig.NONE)
      purchases = getHandle.getListState[Long]("purchases", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Drop evidence that can no longer change any future summary (proof in
      * the class doc), rewrite the bounded lists, and arm one GC timer at
      * the newest kept timestamp so the watermark's advance re-compacts
      * idle keys. The rewrite is O(kept) = O(horizon window), not
      * O(per-user history).
      */
    private def compact(s: FunnelSummary, cs: Seq[Long], ps: Seq[Long],
        wmUs: Long): Unit = {
      val lo = math.min(s.t1, wmUs)
      val keepC = cs.filter(ts => ts > lo && ts <= s.t1).distinct
      val floor2 = math.min(s.t2, math.min(if (keepC.isEmpty) Inf else keepC.min, wmUs))
      val keepP = ps.filter(ts => ts > floor2 && ts < s.t3).distinct
      if (keepC.isEmpty) clicks.clear() else clicks.put(keepC.toArray)
      if (keepP.isEmpty) purchases.clear() else purchases.put(keepP.toArray)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      val pending = keepC ++ keepP
      if (pending.nonEmpty) getHandle.registerTimer(pending.max / 1000L + 1L)
      else if (idleRetentionMs < Inf) {
        // lists are drained: arm the summary's idle-retention GC from the
        // user's newest qualifying activity (their summary timestamps),
        // falling back to the watermark at last touch. The watermark alone
        // is wrong at cold start/backfill: batch 0's watermark is 0, and
        // epoch-0 + retention would expire a fresh user the moment the
        // watermark initializes to real event time.
        val finite = Seq(s.t1, s.t2, s.t3).filter(_ != Inf)
        val baseMs = math.max(math.max(wmUs / 1000L, 0L),
          if (finite.isEmpty) 0L else finite.max / 1000L)
        // explicit overflow check (baseMs + retention would wrap negative
        // for retentions near Long.MaxValue) — overflow means the expiry
        // instant is beyond representable event time: keep forever
        if (baseMs <= Long.MaxValue - idleRetentionMs)
          getHandle.registerTimer(baseMs + idleRetentionMs)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Long, Timestamp)],
        tv: TimerValues): Iterator[FunnelStage] = {
      val st = if (summary.exists()) summary.get() else FunnelSummary(Inf, Inf, Inf)
      var t1 = st.t1
      val cs = scala.collection.mutable.ArrayBuffer[Long]()
      clicks.get().foreach(cs += _)
      val ps = scala.collection.mutable.ArrayBuffer[Long]()
      purchases.get().foreach(ps += _)
      rows.foreach {
        case (_, "view", ts, _) => if (ts < t1) t1 = ts
        case (_, "click", ts, _) => cs += ts
        case (_, "purchase", ts, _) => ps += ts
        case _ => // other event types don't participate in the funnel
      }
      // re-derive the monotone summary: a lower t1 can re-qualify kept
      // clicks (lowering t2), which can re-qualify kept purchases
      var t2 = st.t2
      cs.foreach(ts => if (ts > t1 && ts < t2) t2 = ts)
      var t3 = st.t3
      ps.foreach(ts => if (ts > t2 && ts < t3) t3 = ts)
      val s = FunnelSummary(t1, t2, t3)
      summary.update(s)
      compact(s, cs.toSeq, ps.toSeq, tv.getCurrentWatermarkInMs() * 1000L)
      val stage = if (t3 < Inf) 3 else if (t2 < Inf) 2 else if (t1 < Inf) 1 else 0
      Iterator.single(FunnelStage(key, stage,
        if (t1 == Inf) -1L else t1,
        if (t2 == Inf) -1L else t2,
        if (t3 == Inf) -1L else t3))
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelStage] = {
      // the watermark passed every kept timestamp: re-compaction empties the
      // lists (dropped evidence can't change the summary, so nothing to emit)
      if (summary.exists()) {
        val cs = scala.collection.mutable.ArrayBuffer[Long]()
        clicks.get().foreach(cs += _)
        val ps = scala.collection.mutable.ArrayBuffer[Long]()
        purchases.get().foreach(ps += _)
        if (cs.isEmpty && ps.isEmpty && idleRetentionMs < Inf) {
          // two-phase GC: the evidence timer already drained the lists and
          // armed this retention timer; the user stayed idle through it —
          // drop the summary row so state tracks the ACTIVE population
          summary.clear(); clicks.clear(); purchases.clear()
          getHandle.listTimers().foreach(getHandle.deleteTimer)
        } else {
          compact(summary.get(), cs.toSeq, ps.toSeq,
            tv.getCurrentWatermarkInMs() * 1000L)
        }
      }
      Iterator.empty
    }
  }

  /** Wire the funnel processor onto a (user_id, event_type, ts_micros)
    * stream. `horizon` is the lateness bound ("convert within N of the
    * stream frontier"): events older than it are dropped at the watermark,
    * and per-user evidence is GC'd behind it. An effectively-infinite
    * horizon reproduces the horizonless batch semantics of
    * `TimeSeries.eventFunnel` exactly (the parity spec's replay mode).
    */
  def streamingFunnel(events: Dataset[(Long, String, Long)],
      horizon: String = "90 days",
      idleRetentionMs: Long = Long.MaxValue): Dataset[FunnelStage] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF("user_id", "event_type", "ts_us")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", horizon)
      .as[(Long, String, Long, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(idleRetentionMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming data-quality monitor — the windowed twin of the batch
    * `constraint_audit` (operators.DataQuality): per event-time window,
    * the row count and one violation counter per named constraint, with
    * the batch battery's null-safety rule (a predicate that evaluates to
    * NULL counts as a violation — a null can never PROVE an expectation).
    * Append mode emits each window's final audit when the watermark
    * passes it; state is the windowed aggregate's, bounded by the
    * watermark horizon. This is the shape a 100 TB ingest runs beside
    * its transforms: violation counts are map-side combinable, so the
    * monitor adds one tiny keyed aggregate, never a second scan.
    */
  def qualityMonitor(df: DataFrame, timeCol: String, delay: String,
      windowDur: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: constraints.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"v_$name")
    }
    df.withWatermark(timeCol, delay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +: col("n_rows") +:
        constraints.map { case (name, _) => col(s"v_$name") }: _*)
  }

  /** Streaming windowed-percentile monitor — the streaming twin of the
    * t-digest percentile family (`percentile_tdigest`): per event-time
    * window, quantile estimates from the SAME mergeable
    * [[graft.functions.TDigestAggregator]] the batch query uses. A UDAF
    * is usable inside a streaming windowed aggregation precisely BECAUSE
    * the sketch is mergeable — partial digests combine map-side, across
    * tasks, and across a window's successive state updates, so state per
    * window is one bounded digest (≤ compression centroids), never the
    * raw values. Append mode emits each window's final digest when the
    * watermark passes it. This is the latency/size-distribution monitor
    * a 100 TB ingest runs beside its transforms: percentiles are the
    * quality signal averages hide, and the sketch keeps the monitor's
    * state O(windows × compression) regardless of row volume.
    */
  def percentileMonitor(df: DataFrame, timeCol: String, valueCol: String,
      delay: String, windowDur: String,
      quantiles: Seq[Double] = Seq(0.5, 0.95),
      compression: Int = 100): DataFrame = {
    val labels = quantiles.map(q => s"p${(q * 100).round}")
    require(labels.nonEmpty && labels.distinct.size == labels.size,
      s"quantiles must map to distinct column labels, got ${labels.mkString(", ")}")
    val td = udaf(new graft.functions.TDigestAggregator(quantiles, compression))
    df.withWatermark(timeCol, delay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(lit(1)).as("n_rows"), td(col(valueCol)).as("qs"))
      .select(col("window.start").as("window_start") +: col("n_rows") +:
        quantiles.zipWithIndex.map { case (q, i) =>
          element_at(col("qs"), i + 1).as(s"p${(q * 100).round}")
        }: _*)
  }

  /** Streaming windowed-frequency monitor — the streaming twin of the
    * count-min family (`cms_user_counts`): per event-time window, one
    * count-min grid from the SAME mergeable
    * [[graft.functions.CountMinAggregator]] the batch query uses, with
    * point estimates projected for a fixed watch-list of keys (the items
    * an operator actually alerts on: abusive users, hot shards, tracked
    * cohorts). The grid is why a frequency monitor survives 100 TB/day
    * where a per-key aggregate cannot: the key universe is unbounded,
    * the grid is O(depth × width) per window — and because the merge is
    * an exact pointwise sum, partial grids combine map-side, across
    * tasks, AND across a window's successive micro-batch state updates
    * into the grid a single pass would build. Watch-list buckets are
    * resolved at PLAN time (literal indices via the portable JVM hash),
    * so the projection is a handful of array reads per fired window.
    * Append mode emits each window's final estimates at watermark close.
    */
  def frequencyMonitor(df: DataFrame, timeCol: String, keyCol: String,
      delay: String, windowDur: String, watch: Seq[String],
      depth: Int = 3, width: Int = 64): DataFrame = {
    require(watch.nonEmpty && watch.distinct.size == watch.size,
      s"watch list must be non-empty and distinct, got ${watch.mkString(", ")}")
    val cms = udaf(new graft.functions.CountMinAggregator(depth, width),
      org.apache.spark.sql.Encoders.STRING)
    df.withWatermark(timeCol, delay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(lit(1)).as("n_rows"),
        cms(col(keyCol).cast("string")).as("sk"))
      .select(col("window.start").as("window_start") +: col("n_rows") +:
        watch.map { item =>
          (0 until depth).map { dd =>
            element_at(col("sk.table"), lit(dd * width +
              (graft.functions.Portable.hash28Jvm(s"$dd:$item") % width).toInt + 1))
          }.reduce(least(_, _)).as(s"est_$item")
        }: _*)
  }

  /** Drift report over FIRED per-(window, source) counts — the windowed
    * twin of the batch `mixture_drift` (operators.DataQuality): each
    * source's observed share per window against a broadcast BASELINE
    * distribution (`(source, p_base)` — yesterday's corpus mix), with its
    * KL(observed‖baseline) term and total-variation contribution. A
    * source absent from the baseline has infinite KL — surfaced as a
    * NULL term (the batch query's convention), never a sentinel. Plain
    * `DataFrame => DataFrame`, so it is directly testable and reusable
    * batch-side.
    */
  def mixtureDriftReport(windowCounts: DataFrame, baseline: DataFrame): DataFrame = {
    // every fired window must report EVERY baseline source — a source with
    // zero events in a window (an outage, the strongest drift signal) has
    // no fired count row, so the expected (window × baseline) grid is
    // built first and counts attach to it; observed-but-unknown sources
    // survive through the full join with a NULL p_base
    val grid = windowCounts.select("window_start").distinct()
      .crossJoin(broadcast(baseline))
    val full = grid.join(windowCounts, Seq("window_start", "source"), "full")
      .select(col("window_start"), col("source"), col("p_base"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("window_start")
    val pObs = col("n") / sum("n").over(w)
    full.select(
      col("window_start"), col("source"), col("n"),
      round(pObs, 6).as("p_obs"),
      round(col("p_base"), 6).as("p_base"),
      when(col("n") === 0L, 0.0) // 0·log 0 convention (the batch twin's)
        .when(col("p_base").isNull, lit(null).cast("double"))
        .otherwise(round(pObs * log(pObs / col("p_base")), 6))
        .as("kl_term"),
      round(abs(pObs - coalesce(col("p_base"), lit(0.0))) / 2.0, 6)
        .as("tv_term"))
  }

  /** Streaming mixture-drift monitor: per event-time window, per-source
    * counts aggregate behind the watermark and fire once, final, at
    * window close (Append); because a window's rows fire TOGETHER in one
    * micro-batch, the batch-local [[mixtureDriftReport]] sees each
    * window's complete count set — its per-window window-function total
    * runs over O(sources per window) fired rows, never corpus rows.
    * `sink` receives each micro-batch's finished drift report.
    */
  def streamMixtureDrift(df: DataFrame, timeCol: String, delay: String,
      windowDur: String, baseline: DataFrame, checkpoint: String,
      sink: (DataFrame, Long) => Unit)
      : StreamingQuery =
    eachBatch(df.withWatermark(timeCol, delay)
      .groupBy(window(col(timeCol), windowDur), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("source"), col("n")),
      checkpoint) { (batch, id) => sink(mixtureDriftReport(batch, baseline), id) }

  /** Streaming exact dedup (the training-pipeline counterpart of
    * `Dedup.dedupExact`): state keyed by the id columns, bounded by the
    * watermark — duplicates arriving within the horizon are dropped, state
    * for ids older than the watermark is GC'd. At 100 TB/day the state
    * footprint is bounded by horizon × arrival rate, not corpus size.
    */
  def streamingDedup(df: DataFrame, watermarkCol: String, delay: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(watermarkCol, delay)
      .dropDuplicates(idCols :+ watermarkCol)

  /** The Spark 3.5+ API for the same contract: duplicates of an id are
    * dropped when they arrive within the watermark delay of the first
    * sighting, WITHOUT requiring the event-time column in the key — ids
    * recurring at distinct event times (legitimate re-emissions) are
    * handled per the watermark, and state is GC'd on the same horizon.
    * Preferable at scale: the state key is just the id columns.
    */
  def streamingDedupWithinWatermark(df: DataFrame, watermarkCol: String,
      delay: String, idCols: Seq[String]): DataFrame =
    df.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  // Beam's *accumulating* pane semantics (`accumulatingFiredPanes`) are the
  // same demo2WindowedCounts plan written with .outputMode("update"): every
  // batch re-emits the updated cumulative count for touched windows —
  // exercised in StreamingSpec; `latePanes` covers the reference's
  // *discarding* variant.

  /** Streaming sink parity (O11): exactly-once append. The checkpoint
    * replays a failed batch, and the file sink's `_spark_metadata` log lists
    * only committed batches' files, so readers of `path` see each batch once
    * (`foreachBatch` variants get the same from batch-id keyed writes).
    * Returns the started query.
    */
  def appendToParquet(df: DataFrame, path: String, checkpoint: String)
      : StreamingQuery =
    start(df.sparkSession, df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint))

  /** `w.start()` with [[LocalCheckpointFs]] as the `file:` FileContext of
    * `spark`, the query's session, unless its conf or Hadoop conf already
    * sets `fs.AbstractFileSystem.file.impl` (Hadoop's own default does not
    * count). */
  private def start(spark: SparkSession, w: DataStreamWriter[Row]): StreamingQuery = {
    val key = "fs.AbstractFileSystem.file.impl"
    val userSet = spark.conf.getOption(key).isDefined ||
      Option(spark.sparkContext.hadoopConfiguration.getPropertySources(key))
        .exists(_.exists(_ != "core-default.xml"))
    if (!userSet) spark.conf.set(key, classOf[LocalCheckpointFs].getName)
    w.start()
  }

  // ------------------------------------------------- micro-batch sink seam
  /** Start `df` running `sink` on every micro-batch with its batch id: the
    * one `foreachBatch` wiring the streaming twins share. */
  private def eachBatch(df: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(df.sparkSession, df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => sink(batch, id) })

  /** Byte-replace `dir/batch_id=<id>` with `df`, optionally nested
    * `partitionBy` directories inside it. Readers get `batch_id` back via
    * partition-directory inference, so `df` must not carry its own
    * `batch_id` column (Spark's data-schema-wins overlap rule would shadow
    * the inferred one). Inference types small ids as INTEGER: readers that
    * want a Long must cast, never rely on boxed numeric equality.
    */
  private def writeBatchDir(df: DataFrame, dir: String, id: Long,
      partitionBy: String*): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$dir/batch_id=$id")
  }

  /** Run `f` on `df` persisted, for sinks that write one frame two ways:
    * the batch is computed once, not once per write. */
  private def withPersisted(df: DataFrame)(f: DataFrame => Unit): Unit = {
    val p = df.persist()
    try f(p) finally { p.unpersist(); () }
  }

  /** Message-bus envelope normalization (O1, SURVEY §1.3 "SequencedMessage
    * envelope"): a Kafka-source-shaped frame — binary `key`/`value`, broker
    * `timestamp`, `topic`/`partition`/`offset` — becomes the string
    * `payload` column [[demo1ParseEtl]] consumes, with the broker metadata
    * preserved as typed columns (publish time is the reference envelope's
    * publish timestamp, distinct from the payload's event time). This is
    * the one seam between "wire" and the typed pipeline: swapping the
    * file/memory test source for `spark.readStream.format("kafka")` changes
    * nothing downstream of this call.
    */
  def fromBusEnvelope(envelope: DataFrame): DataFrame =
    envelope.select(
      col("value").cast("string").as("payload"),
      col("key").cast("string").as("msg_key"),
      col("timestamp").as("publish_time"),
      col("topic"),
      col("partition"),
      col("offset"))

  /** The real message-bus connector behind the [[fromBusEnvelope]] seam
    * (O1 — the reference subscribes to a Pub/Sub Lite topic,
    * `Demo1.java:81-83`): constructs `spark.readStream.format("kafka")`
    * with broker/topic bound through `Demos.resolve`, so a deployment
    * defers them exactly like the reference's templated ValueProvider
    * options (`--brokers env:KAFKA_BROKERS --topic env:EVENTS_TOPIC`).
    * The connector emits the documented Kafka source schema — binary
    * `key`/`value`, `topic` string, `partition` int, `offset` long,
    * broker `timestamp` (+ `timestampType`, unused) — which is precisely
    * the envelope shape [[fromBusEnvelope]] normalizes, so everything
    * downstream of this call is identical between production Kafka and
    * the file/memory test sources. Needs the `spark-sql-kafka-0-10`
    * connector on the classpath (not bundled with core Spark); without
    * it, source LOOKUP fails at `load()` with Spark's "Failed to find
    * data source: kafka" guidance — the SourcesSpec pins that seam.
    */
  def fromKafka(spark: SparkSession, brokers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    fromBusEnvelope(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", graft.tools.Demos.resolve(brokers))
        .option("subscribe", graft.tools.Demos.resolve(topic))
        .option("startingOffsets", startingOffsets)
        .load())

  /** One micro-batch of the dead-letter sink contract, factored out so the
    * redelivery path is directly testable: rows passing `valid` land under
    * `sinkPath/batch_id=<id>`, the rest — annotated with the failure
    * `reason` — under `quarantinePath/batch_id=<id>`.
    */
  def deadLetterBatch(batch: DataFrame, id: Long,
      valid: org.apache.spark.sql.Column,
      reason: org.apache.spark.sql.Column,
      sinkPath: String, quarantinePath: String): Unit = {
    // NULL-safe routing: a predicate evaluating to NULL (null payload, null
    // field) must quarantine the row, not drop it from both sides — losing
    // rows is the one failure mode a dead-letter sink exists to prevent
    val isValid = coalesce(valid, lit(false))
    withPersisted(batch) { b =>
      writeBatchDir(b.filter(isValid), sinkPath, id)
      writeBatchDir(b.filter(!isValid)
        .withColumn("dlq_reason", coalesce(reason, lit("validity_null"))),
        quarantinePath, id)
    }
  }

  /** Dead-letter sink (O11 parity with `Demo1.java:96-97`: the reference
    * retries transient insert failures and surfaces failed rows with
    * extended error info). Spark-first shape: transient failures are the
    * micro-batch retry's job (the checkpoint re-runs a failed batch), so
    * the dead-letter path carries rows that deterministically fail
    * validation — each batch splits on `valid` and quarantines the rest
    * with a reason via [[deadLetterBatch]].
    */
  def appendWithDeadLetter(df: DataFrame,
      valid: org.apache.spark.sql.Column,
      reason: org.apache.spark.sql.Column,
      sinkPath: String, quarantinePath: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(df, checkpoint)(
      deadLetterBatch(_, _, valid, reason, sinkPath, quarantinePath))

  /** Hadoop-FS handle for a state directory — NOT `java.io.File`, which
    * silently reports "absent" for any non-local URI (hdfs://, s3a://):
    * for stateful sinks that failure mode is silent data loss (an index
    * that always looks empty dedupes nothing), so every directory probe
    * in this file goes through the filesystem the path actually names.
    */
  private def stateFs(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One micro-batch of streaming ingestion dedup against a PERSISTED
    * fingerprint index — the streaming twin of
    * `Dedup.dedupIncrementalFromIndex` (read artifacts, never re-derive
    * history): rows whose `fp` already exists in the index are dropped,
    * survivors land under `outDir/batch_id=<id>` and their fingerprints
    * append to the index as (fp, run_id, batch_id).
    *
    * Redelivery safety (the pitfall this factoring exists to test): a
    * naive fp-only index would make a REDELIVERED batch dedupe against
    * its own previous append and emit an empty batch. Tagging index rows
    * with the writing batch id and anti-joining against `batch_id <> id`
    * makes redelivery reproduce the original survivors exactly, and the
    * duplicate (fp, id) index rows it re-appends are harmless — index
    * membership is a set query. State is the index parquet itself:
    * corpus-lifetime fingerprints at 16 bytes a row, queried by one
    * anti-join per batch — no executor state, no watermark bound needed.
    */
  def dedupIndexedBatch(batch: DataFrame, id: Long, runId: String,
      fp: org.apache.spark.sql.Column, tieBreak: org.apache.spark.sql.Column,
      indexDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val withFp = batch.withColumn("fp", fp)
    val (fs, idxPath) = stateFs(spark, indexDir)
    val hasIndex = fs.exists(idxPath) &&
      fs.listStatus(idxPath).exists(_.getPath.getName.endsWith(".parquet"))
    // the redelivery exemption must key on (run, batch), not batch id
    // alone: after a checkpoint reset batch ids restart at 0, and a
    // batch-id-only exemption would let the NEW batch 0 skip dedup
    // against the OLD run's batch-0 rows
    val fresh =
      if (!hasIndex) withFp
      else withFp.join(spark.read.parquet(indexDir)
        .filter(!(col("run_id") === runId && col("batch_id") === id))
        .select("fp"), Seq("fp"), "left_anti")
    // intra-batch duplicates: a DETERMINISTIC winner per fingerprint
    // (dropDuplicates is a First aggregate whose winner depends on task
    // order — redelivery could then persist a different row than the
    // original delivery, breaking the reproducibility contract)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(tieBreak)
    withPersisted(fresh.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")) { survivors =>
      writeBatchDir(survivors.drop("fp"), outDir, id)
      survivors.select(col("fp"), lit(runId).as("run_id"), lit(id).as("batch_id"))
        .write.mode("append").parquet(indexDir)
    }
  }

  /** Streaming ingestion dedup: every micro-batch drops rows whose
    * fingerprint is already in the persisted index via
    * [[dedupIndexedBatch]]. `tieBreak` orders intra-batch rows sharing a
    * fingerprint; the first wins — deterministically, so a redelivered
    * batch persists byte-identical survivors. Each `start()` mints a
    * fresh run id for the redelivery exemption, so an index outlives any
    * number of checkpoint resets without admitting duplicates. */
  def streamDedupIndexed(df: DataFrame, fp: org.apache.spark.sql.Column,
      tieBreak: org.apache.spark.sql.Column,
      indexDir: String, outDir: String, checkpoint: String)
      : StreamingQuery = {
    val runId = java.util.UUID.randomUUID().toString
    eachBatch(df, checkpoint)(
      dedupIndexedBatch(_, _, runId, fp, tieBreak, indexDir, outDir))
  }

  // ---------------------------------------------------- streaming CDC upsert
  /** Latest committed snapshot version under `dir` (directories `v=<id>`),
    * or None before the first batch. */
  def latestSnapshotVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, p) = stateFs(spark, dir)
    val versioned = "v=(\\d+)".r
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(_.getPath.getName match {
        case versioned(v) => Some(v.toLong)
        case _ => None // a stray non-version directory is not a snapshot
      })
      .sorted(Ordering[Long].reverse).headOption
  }

  /** The current snapshot as a DataFrame (latest version), for readers. */
  def readSnapshot(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/v=${latestSnapshotVersion(spark, dir).get}")

  /** One micro-batch of streaming CDC snapshot maintenance — the streaming
    * twin of the batch `merge_upsert` query, factored out (the
    * [[deadLetterBatch]] pattern) so redelivery is directly testable.
    * `batch` carries (key, op ∈ I/U/D, payload…); version `id` is built
    * from version `id-1` as snapshot-anti-join-changes ∪ surviving change
    * rows — the same single wide equi-key edge as the batch query — and
    * written to `dir/v=<id>`. Idempotence is by construction: a
    * redelivered batch rebuilds `v=<id>` from the untouched `v=<id-1>`,
    * byte-replacing its own prior output instead of double-applying.
    * Versioned directories also give concurrent readers snapshot
    * isolation ([[readSnapshot]] reads the latest complete version);
    * retention/GC of old versions is an ops policy, not applied here.
    *
    * Scale posture: the rewrite cost is one equi-key shuffle of
    * snapshot ∪ batch per micro-batch — the honest cost of parquet (no
    * per-file MERGE); at 100 TB the snapshot would be partitioned by a
    * key prefix so each batch rewrites only the partitions its keys
    * touch, which composes with this versioning unchanged.
    */
  /** `seqCol` orders a batch's changes so the LAST change per key wins —
    * required whenever a micro-batch can carry several changes for one key
    * (an I followed by a D must delete; two Us must leave one row). With
    * `seqCol = None` the batch is applied as-is, which is only correct
    * under an at-most-one-change-per-key-per-batch contract. The sequence
    * column is consumed by the reduction and not written to the snapshot.
    */
  def upsertBatch(batch: DataFrame, id: Long, dir: String, key: String,
      seqCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val lastPerKey = seqCol match {
      case Some(sc) =>
        // secondary key: a content hash, so two changes COLLIDING on seq
        // still reduce to the same (arbitrary but deterministic) winner on
        // redelivery — the tieBreak discipline of dedupIndexedBatch
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(col(sc).desc, md5(to_json(struct(col("*")))).asc)
        batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn", sc)
      case None => batch
    }
    val applied = lastPerKey.filter(col("op") =!= "D").drop("op")
    val (fs, _) = stateFs(spark, dir)
    val prev = new org.apache.hadoop.fs.Path(s"$dir/v=${id - 1}")
    val merged =
      if (!fs.exists(prev) || !fs.getFileStatus(prev).isDirectory) applied
      else {
        val base = spark.read.parquet(prev.toString)
        base.join(lastPerKey.select(col(key)).distinct(), Seq(key), "left_anti")
          .unionByName(applied)
      }
    merged.write.mode("overwrite").parquet(s"$dir/v=$id")
  }

  /** Streaming CDC apply: each micro-batch of change rows upserts the
    * versioned parquet snapshot via [[upsertBatch]]. */
  def streamUpsert(df: DataFrame, dir: String, key: String, checkpoint: String,
      seqCol: Option[String] = None)
      : StreamingQuery =
    eachBatch(df, checkpoint)(upsertBatch(_, _, dir, key, seqCol))

  // ------------------------------------------------ streaming ANN enrichment
  /** Streaming ANN enrichment over micro-batches of `(qid, qemb:
    * array<float>)` query embeddings — the online twin of the batch
    * `pq_adc_rerank_topk` query: each batch probes the STATIC PQ serving
    * corpus (8-byte codes for the ADC recall pass; full-precision
    * embeddings only for the pool-bounded rerank fetch) through literally
    * the same `Similarity.adcRerank` composition the batch query plans.
    * Enrichment is per-record — no cross-batch state — so replay parity
    * with the batch query is exact (StreamingSpec pins it).
    *
    * The static corpus pair (codes + embeddings) is persisted once here —
    * every micro-batch probes it, and without the persist each batch
    * would re-run the corpus `pq_encode` scan. The cached relations live
    * until the caller unpersists them (returned alongside the query so a
    * long-lived serving job can manage their lifecycle; at 100 TB the
    * codes relation is the 8-bytes-per-vector artifact a deployment pins
    * in cluster memory by design — that is the point of PQ).
    */
  def streamAnnEnrich(df: DataFrame, spark: SparkSession, sfDir: String,
      outDir: String, checkpoint: String, poolN: Int = 10, k: Int = 3)
      : (StreamingQuery, Seq[DataFrame]) = {
    val (codes, emb) = graft.operators.Similarity.pqServingCorpus(spark, sfDir)
    val cached = Seq(codes.persist(), emb.persist())
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Similarity
        .adcRerank(batch, cached.head, cached(1), poolN, k), outDir, id)
    }
    (q, cached)
  }

  // ----------------------------------------------- streaming as-of enrichment
  /** The per-micro-batch plan of the streaming as-of enrichment leg — the
    * online twin of the batch `asof_join_native` query (the feature-store
    * serving pattern: each arriving purchase is stamped with the user's
    * latest prior signup from the STATIC dimension). The dimension side
    * carries an explicit `broadcast` hint, so `AsofJoinStrategy` plans
    * `AsofBroadcastJoinExec`: the stream side is NEVER shuffled — each
    * micro-batch probes a per-executor sorted index, which is the only
    * sane plan when the probe side is a low-latency trickle and the
    * dimension is the big-but-bounded artifact a serving job pins in
    * cluster memory (StreamingSpec asserts both: the broadcast exec in the
    * physical plan and zero probe-side exchanges). Enrichment is
    * per-record (no cross-batch state), so replay parity with the batch
    * query is exact (StreamingSpec pins it).
    */
  def asofEnrichPlan(batch: DataFrame, dim: DataFrame): DataFrame =
    batch
      .join(broadcast(dim), expr("user_id = s_uid AND asof_le(es, s_es)"), "left")
      .select(col("event_id"), col("user_id"), col("s_es").as("last_signup_s"))

  /** Streaming as-of enrichment over micro-batches of purchase rows
    * `(event_id, user_id, es)` through [[asofEnrichPlan]]. The signup
    * dimension is read and persisted once — every micro-batch
    * re-broadcasts from the cached relation instead of re-scanning
    * parquet. Returned alongside the query so the caller manages the cache
    * lifecycle (same contract as [[streamAnnEnrich]]).
    */
  def streamAsofEnrich(df: DataFrame, spark: SparkSession, sfDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.functions.VecFunctions.register(spark)
    graft.plans.GraftStrategies.register(spark)
    val dim = Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), unix_timestamp(col("ts")).as("s_es"))
      .persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(asofEnrichPlan(batch, dim), outDir, id)
    }
    (q, dim)
  }

  // ------------------------------------------------- streaming LM scoring
  /** Streaming perplexity scoring over micro-batches of `(doc_id, text)`
    * rows — the online twin of the batch `lm_perplexity` query: arriving
    * rows are scored against the PERSISTED bigram-LM model
    * (`Scoring.writeLmModel` artifacts) through literally the same
    * `Scoring.lmScoreBatch` composition the batch serving path plans.
    * Enrichment is per-record — no cross-batch state — so replay parity
    * with the batch scoring is exact. This is the ingestion-time quality
    * gate: a pipeline scores documents as they arrive against a model
    * trained offline on the accepted corpus.
    *
    * The model relations are read and persisted once — every micro-batch
    * joins against the cached vocabulary-bounded statistics instead of
    * re-scanning the model parquet (and the corpus is NEVER scanned:
    * training happened at [[graft.operators.Scoring.writeLmModel]] time).
    * Returned alongside the query so the caller manages the cache
    * lifecycle (same contract as [[streamAnnEnrich]]).
    */
  def streamLmScore(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, Seq[DataFrame]) = {
    graft.models.ModelManifest.validate(spark, modelDir, "lm_bigram")
    val cached = Seq(
      spark.read.parquet(s"$modelDir/c2").persist(),
      spark.read.parquet(s"$modelDir/c1").persist(),
      spark.read.parquet(s"$modelDir/meta").persist())
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Scoring
        .lmScoreBatch(batch, cached(0), cached(1), cached(2)), outDir, id)
    }
    (q, cached)
  }

  // ------------------------------------------------ streaming DSIR scoring
  /** Streaming DSIR importance scoring over micro-batches of `(doc_id,
    * text)` rows against the persisted dense ratio model
    * (`Scoring.writeDsirModel`) — the third instance of the
    * train-offline/serve-online contract (ANN index, LM model, now DSIR).
    * The B-row model is cached once; enrichment is per-record, so replay
    * parity with the batch serving path is exact.
    */
  def streamDsirScore(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.models.ModelManifest.validate(spark, modelDir, "dsir")
    val ratios = spark.read.parquet(s"$modelDir/ratios").persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Scoring.dsirScoreBatch(batch, ratios), outDir, id)
    }
    (q, ratios)
  }

  // ------------------------------------------------ streaming BM25 scoring
  /** Streaming BM25 scoring over micro-batches of `(doc_id, text)` rows
    * against the persisted statistics model (`Scoring.writeBm25Model`) —
    * the fourth instance of the train-offline/serve-online contract (ANN
    * index, LM model, DSIR ratios, now BM25). The |Q|-relevant slice of
    * the model is cached once; each micro-batch tokenizes only its own
    * probes.
    */
  def streamBm25Score(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String,
      terms: Seq[String] = graft.operators.Scoring.Bm25Terms)
      : (StreamingQuery, Seq[DataFrame]) = {
    graft.models.ModelManifest.validate(spark, modelDir, "bm25")
    // cache the |Q|-relevant slice, not the whole vocabulary: the model
    // df is |vocabulary| rows on disk, but this stream only ever scores
    // `terms` — pinning the full relation for the stream's lifetime
    // would waste executor memory and re-filter it every micro-batch
    val cached = Seq(
      spark.read.parquet(s"$modelDir/df")
        .filter(col("term").isin(terms: _*)).persist(),
      spark.read.parquet(s"$modelDir/meta").persist())
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Scoring
        .bm25ScoreBatch(batch, cached(0), cached(1), terms), outDir, id)
    }
    (q, cached)
  }

  // --------------------------------------------- streaming novelty scoring
  /** Streaming novelty scoring over micro-batches of `(doc_id, text)`
    * rows against the persisted corpus bigram-df model
    * (`TextAnalysis.writeNoveltyModel`) — the ingest-time "is this batch
    * new content or re-crawled mass" signal. Serving goes through
    * literally the same `TextAnalysis.noveltyScoreBatch` composition as
    * the batch path (replay parity exact, per-record enrichment, no
    * cross-batch state).
    */
  def streamNoveltyScore(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.models.ModelManifest.validate(spark, modelDir, "ngram_novelty")
    val gramDf = spark.read.parquet(s"$modelDir/gramdf").persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.TextAnalysis
        .noveltyScoreBatch(batch, gramDf), outDir, id)
    }
    (q, gramDf)
  }

  // --------------------------------------------- streaming shard routing
  /** Streaming shard router — the training-shard DELIVERY path: arriving
    * `(doc_id, text)` rows are assigned their deterministic shard (the
    * `shard_assignment`/`shard_mix_audit` key, ONE definition) and
    * written `partitionBy(shard)` inside each batch directory, so the
    * landing layout IS the shard layout a training run consumes and a
    * document lands in the same shard no matter which micro-batch (or
    * redelivery) carries it. A consumer reading `outDir` sees both
    * partition columns and shard filters prune directories. The batch
    * query's within-shard positions are a corpus-level order and
    * deliberately NOT assigned here — an unbounded stream has no final
    * corpus to rank within; positions come from the batch pass over the
    * closed corpus.
    */
  def streamShardRoute(df: DataFrame, outDir: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(batch.withColumn("shard", graft.operators.TextAnalysis.shardKey),
        outDir, id, "shard")
    }

  // ----------------------------------------- streaming quality classifier
  /** Streaming distilled-quality scoring over micro-batches of `(doc_id,
    * text)` rows against the persisted classifier
    * (`Scoring.writeQualityClassifier`) — the production shape of the
    * fastText pattern: the expensive gate labeled a corpus once, the
    * cheap student model screens ingest forever after. The 13-value
    * model row is read ONCE at stream start and inlined as literals into
    * every micro-batch's codegen projection (no join at all).
    */
  def streamQualityClassify(df: DataFrame, spark: SparkSession,
      modelDir: String, outDir: String, checkpoint: String)
      : StreamingQuery = {
    graft.models.ModelManifest.validate(spark, modelDir, "quality_classifier")
    val (w, mu, sd) = graft.operators.Scoring.qcModelFromDir(spark, modelDir)
    eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Scoring.qcScoreBatch(batch, w, mu, sd), outDir, id)
    }
  }

  // --------------------------------------------- streaming semdedup screen
  /** Streaming semantic-dedup screening over micro-batches of `(vec_id,
    * embedding)` rows against the persisted semdedup index
    * (`Similarity.writeSemdedupIndex`) — the ingest-time "does this
    * duplicate content we already kept" gate. The codebook is one bounded
    * driver read at stream start; the kept set is cached; each
    * micro-batch goes through literally the same
    * `Similarity.semdedupScreenBatch` composition as the batch path
    * (replay parity exact).
    */
  def streamSemdedupScreen(df: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.models.ModelManifest.validate(spark, indexDir, "semdedup_index")
    graft.functions.VecFunctions.register(spark)
    val codebook = graft.operators.Similarity.codebookFromDir(spark, indexDir)
    val kept = spark.read.parquet(s"$indexDir/kept").persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Similarity
        .semdedupScreenBatch(batch, codebook, kept), outDir, id)
    }
    (q, kept)
  }

  // --------------------------------------------- streaming ANN ingest (grow)
  /** Screen-AND-GROW for the vector index (`editScreenGrowSinkBatch`'s
    * discipline applied to embeddings): each micro-batch of `(vec_id,
    * embedding)` rows is served its cosine top-3 from the base index PLUS
    * every prior batch's appends — so a near-duplicate of a vector first
    * seen three batches ago is caught without any retrain — then appends
    * its own cell-assigned rows under `indexDir/appended/batch_id=<id>`.
    * The screen reads the appended root through a `batch_id =!= id`
    * partition filter, so a redelivered batch never screens against its
    * own earlier append. Offline maintenance:
    * `Similarity.compactAnnIndex` (fold appends, latest-wins) and
    * `Similarity.annIndexDrift` (decide when a retrain is due instead).
    */
  def annIngestSinkBatch(batch: DataFrame, id: Long,
      codebook: Seq[(Int, Array[Float])], indexDir: String,
      outDir: String): Unit = {
    writeBatchDir(graft.operators.Similarity
      .annScreenGrownBatch(batch, codebook, indexDir, excludeBatch = id), outDir, id)
    graft.operators.Similarity
      .annIndexAppendBatch(batch, codebook, indexDir, id)
  }

  def streamAnnIngest(df: DataFrame, spark: SparkSession, indexDir: String,
      outDir: String, checkpoint: String)
      : StreamingQuery = {
    graft.models.ModelManifest.validate(spark, indexDir, "ann_ivf_index")
    graft.functions.VecFunctions.register(spark)
    val codebook = graft.operators.Similarity.codebookFromDir(spark, indexDir)
    eachBatch(df, checkpoint)(annIngestSinkBatch(_, _, codebook, indexDir, outDir))
  }

  // --------------------------------------------- streaming semdedup ingest
  /** Screen-and-ADMIT semantic dedup at ingest (`streamSemdedupScreen`'s
    * grow variant): per batch, verdicts against kept ∪ prior admits ∪
    * own-batch lower ids (`Similarity.semdedupIngestVerdicts`), verdict
    * rows to `outDir/batch_id=<id>`, and the batch's admitted (non-dup,
    * nonzero-norm) vectors appended cell-partitioned under
    * `indexDir/admitted/batch_id=<id>` — so a near-dup of a vector
    * admitted three batches ago is REJECTED, which the frozen screen
    * cannot do. Offline maintenance: `Similarity.compactSemdedupIndex`.
    * The read side excludes the batch's own earlier admits. */
  def streamSemdedupIngest(df: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpoint: String)
      : StreamingQuery = {
    graft.models.ModelManifest.validate(spark, indexDir, "semdedup_index")
    graft.functions.VecFunctions.register(spark)
    val codebook = graft.operators.Similarity.codebookFromDir(spark, indexDir)
    eachBatch(df, checkpoint) { (batch, id) =>
      withPersisted(graft.operators.Similarity
          .semdedupIngestVerdicts(batch, codebook, indexDir, excludeBatch = id)) { v =>
        writeBatchDir(v.select("vec_id", "n_dup_kept", "is_dup"), outDir, id)
        writeBatchDir(v.filter(!col("is_dup") && col("nrm") > 0)
          .select("vec_id", "embedding", "nrm", "cell"), s"$indexDir/admitted", id, "cell")
      }
    }
  }

  // --------------------------------------------- streaming ANN drift monitor
  /** Ingest-time twin of the batch `ann_index_drift` report: each
    * micro-batch of `(vec_id, embedding)` rows gets ONE verdict row —
    * (n_arrivals, tv, drift_flagged) against the persisted index's cell
    * shares — the vector-space counterpart of the KL drift monitor
    * (`kl_drift_stream` smoke leg). The base cell relation is cached at
    * stream start (k-row-bounded groupBy feeds the TV join, the corpus
    * itself is scanned once); per-record work is one frozen-codebook
    * assignment projection. No cross-batch state: replay parity with the
    * batch metric is exact. */
  def streamAnnDriftMonitor(df: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.models.ModelManifest.validate(spark, indexDir, "ann_ivf_index")
    graft.functions.VecFunctions.register(spark)
    val codebook = graft.operators.Similarity.codebookFromDir(spark, indexDir)
    val baseCells = spark.read.parquet(s"$indexDir/corpus")
      .select("cell").persist()
    // the retrain-ratio denominator: the index's own mean fit under its
    // own codebook — one pass at monitor start, a scalar thereafter
    val ownFitErr = graft.operators.Similarity.indexOwnFitErr(spark, indexDir)
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Similarity
        .driftVerdictBatch(batch, codebook, baseCells, ownFitErr), outDir, id)
    }
    (q, baseCells)
  }

  // --------------------------------------------- streaming corpus diff
  /** Ingest-time twin of the batch `corpus_diff` reconciliation: each
    * micro-batch of arriving current-snapshot rows (doc_id, source,
    * text) gets its added/changed/unchanged per-source counts against
    * the PREVIOUS snapshot's fingerprints — re-ingest progress telemetry
    * as the snapshot lands, instead of one verdict at the end. The
    * previous snapshot is fingerprinted once at stream start
    * (fingerprint-only rows persisted — the 100 TB form is a persisted
    * fp index bucketed by doc_id, making the per-batch left join
    * co-located); `removed` is deliberately absent per batch (a batch
    * witnesses presence, never absence) and is recovered at snapshot
    * close by [[diffCloseSnapshot]] over the per-batch presence log, so
    * the streaming path produces the batch query's full four-status
    * report. No cross-batch state inside the engine (the presence log is
    * the sink's, not the state store's): replay parity with the batch
    * classification is exact. */
  def streamCorpusDiff(df: DataFrame, spark: SparkSession, sfDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val prev = graft.operators.DataQuality
      .prevSnapshot(graft.Tables.documents(spark, sfDir)).persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      withPersisted(batch) { b => // read by the verdict and the presence log
        writeBatchDir(graft.operators.DataQuality.diffVerdictBatch(b, prev), outDir, id)
        // presence log: ids only (8 bytes/doc — at 100 TB this is the
        // id-projection of the snapshot, bucketable by doc_id), the witness
        // set [[diffCloseSnapshot]] anti-joins at end of snapshot. Duplicate
        // ids across a replay are harmless (anti-join semantics need
        // presence, not multiplicity).
        writeBatchDir(b.select(col("doc_id")), s"$outDir/seen", id)
      }
    }
    (q, prev)
  }

  /** End-of-snapshot reconciliation — the `removed` verdict the per-batch
    * classification deliberately cannot emit (a batch witnesses presence,
    * never absence): once the snapshot's ingest stream is drained,
    * anti-join the PREVIOUS snapshot's fingerprint index against the
    * accumulated presence log and count the survivors per source. The
    * union of every per-batch verdict plus this terminal frame equals the
    * batch [[graft.operators.DataQuality.corpusDiff]] report exactly
    * (StreamingSpec pins the full four-status replay parity). One
    * id-keyed anti-join — prev bucketed by doc_id at 100 TB makes it
    * co-located — and an O(sources) aggregate. */
  def diffCloseSnapshot(spark: SparkSession, prev: DataFrame,
      outDir: String): DataFrame =
    prev.join(spark.read.parquet(s"$outDir/seen"), Seq("doc_id"), "left_anti")
      .select(lit("removed").as("status"), col("source"))
      .groupBy("status", "source").agg(count(lit(1)).as("n_docs"))

  // --------------------------------------------- streaming media ingest
  /** The per-batch media ingest transform: decode stub + resize geometry
    * over `(doc_id, payload)` rows — the df-level seam shared by the
    * streaming query and any batch backfill, so ingest-time and
    * batch-time geometry can never diverge. Decode runs in
    * `mapPartitions` (where a real codec would), geometry is the
    * `multimodal_resize` integer arithmetic.
    */
  def mediaIngestBatch(batch: DataFrame, id: Long, outDir: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    // totality: a file whose name yields no id must not kill the query
    // (a NULL doc_id would throw in the non-nullable encoder and wedge
    // the checkpoint in a crash loop) and must not silently vanish — it
    // goes to an `unnamed/` quarantine with its path, the dead-letter
    // discipline applied to naming instead of parsing
    withPersisted(batch) { parted =>
      writeBatchDir(parted.filter(col("doc_id").isNull).select(col("path")),
        s"$outDir/unnamed", id)
      writeBatchDir(graft.operators.Multimodal.resizeGeometry(
        parted.filter(col("doc_id").isNotNull)
          .select(col("doc_id"), col("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (docId, bytes) =>
            graft.operators.Multimodal.decodeStub(docId, bytes) })
          .toDF()), s"$outDir/decoded", id)
    }
  }

  /** The fixed `binaryFile` source schema (streaming sources require it
    * explicitly; the format ignores user schemas that deviate). */
  private val BinaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** Streaming media ingest: an unbounded `binaryFile` directory source
    * (files dropped into `dir` are consumed exactly once per checkpoint —
    * the raw-media landing-zone pattern) decoded and geometry-planned at
    * ingest time. `doc_id` derives from the digits of the file name (the
    * landing convention); a real deployment swaps the stub inside
    * [[mediaIngestBatch]] for a codec and keeps this wiring.
    */
  def streamMediaIngest(spark: SparkSession, dir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    eachBatch(spark.readStream.format("binaryFile").schema(BinaryFileSchema).load(dir)
      .select(
        col("path"),
        // digits immediately before the extension — anchored to the file
        // NAME so directory-path digits can never leak into the id; a
        // digitless name extracts "" → try_cast NULL → quarantined by
        // the sink, never a crash
        expr("try_cast(regexp_extract(path, '(\\\\d+)\\\\.\\\\w+$', 1) AS LONG)")
          .as("doc_id"),
        col("content").as("payload")),
      checkpoint)(mediaIngestBatch(_, _, outDir))

  // ------------------------------------------- streaming decontamination
  /** Streaming benchmark-decontamination gate over micro-batches of
    * `(doc_id, text)` rows: each arriving document is screened against a
    * cached benchmark gram-hash set (the `decontaminate_ngram` screen,
    * served online — eval sets are MBs, so the broadcast posture holds at
    * any corpus scale) and routed — zero-overlap docs to `clean/`,
    * overlapping docs to `contaminated/` RETAINING `n_shared_grams` (the
    * blame column, the quality-gate quarantine discipline). The left
    * join + coalesce makes routing total: every arrived row lands in
    * exactly one route.
    */
  def streamDecontaminate(df: DataFrame, spark: SparkSession, sfDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val benchG = graft.operators.Dedup.benchGramHashes(spark, sfDir).persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      val counts = graft.operators.Dedup.ngramOverlapCounts(batch, benchG)
      withPersisted(batch
          .join(counts, Seq("doc_id"), "left")
          .select(batch.columns.map(col) :+
            coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"): _*)) { flagged =>
        writeBatchDir(flagged.filter(col("n_shared_grams") === 0).drop("n_shared_grams"),
          s"$outDir/clean", id)
        writeBatchDir(flagged.filter(col("n_shared_grams") > 0),
          s"$outDir/contaminated", id)
      }
    }
    (q, benchG)
  }

  // ------------------------------------------------ streaming BPE apply
  /** Streaming application of a FROZEN BPE merge table over micro-batches
    * of `(doc_id, text)` rows — tokenizer serving at ingestion time,
    * completing the BPE family's batch/stream twinning (train once via
    * `TextAnalysis.bpeTrain`/`bpePairCounts`, serve everywhere). The
    * merge list is a plan-build constant (≤20 literal replaces unrolled
    * into whole-stage codegen — no state, no join), so scoring is
    * per-record and replay parity with the batch query is exact.
    */
  def streamBpeApply(df: DataFrame, merges: Seq[String], outDir: String,
      checkpoint: String): StreamingQuery =
    eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.TextAnalysis.bpeApplyFrozen(batch, merges), outDir, id)
    }

  // -------------------------------------------- streaming vocab coverage
  /** Streaming OOV monitoring under a FROZEN persisted vocabulary
    * (`TextAnalysis.writeVocabModel`) — the tokenizer-drift signal an
    * ingest pipeline watches: a source whose arriving documents start
    * fragmenting against the training vocabulary is drifting away from
    * the corpus the tokenizer was frozen on. Per-micro-batch per-source
    * reports via the shared `coverageTail` (additive components:
    * `n_tokens`/`covered_tokens` sum across batches; a dashboard
    * recomputes the rate from the sums). The K-row vocabulary is cached
    * once.
    */
  def streamVocabCoverage(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    graft.models.ModelManifest.validate(spark, modelDir, "tokenizer_vocab")
    val vocab = spark.read.parquet(s"$modelDir/vocab").persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.TextAnalysis.vocabCoverageBatch(batch, vocab), outDir, id)
    }
    (q, vocab)
  }

  // ------------------------------------------- streaming KL drift monitor
  /** Streaming token-distribution drift monitor: each micro-batch of
    * `(doc_id, text)` rows is pooled and scored as add-1-smoothed KL
    * against the persisted corpus model
    * (`TextAnalysis.writeTokenKlModel`) — one (batch_id, n_docs,
    * n_tokens, kl_nats) row per batch, the earliest off-distribution
    * alarm an ingest pipeline gets; `batch_id` comes back from the batch
    * directory on read. Model relations cached once.
    */
  def streamTokenKl(df: DataFrame, spark: SparkSession, modelDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, Seq[DataFrame]) = {
    graft.models.ModelManifest.validate(spark, modelDir, "token_kl")
    val cached = Seq(
      spark.read.parquet(s"$modelDir/support").persist(),
      spark.read.parquet(s"$modelDir/meta").persist())
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.TextAnalysis
        .tokenKlScoreBatch(batch, cached(0), cached(1)), outDir, id)
    }
    (q, cached)
  }

  // ------------------------------------------- streaming winnow screen
  /** Streaming substring-dedup screen over micro-batches of
    * `(doc_id, text)` rows against the persisted winnow fingerprint
    * index (`Dedup.writeWinnowIndex`) — ingest-time detection of
    * documents that quote/embed ≥ 40-char runs of the indexed corpus.
    * The index relation is cached once for the stream's lifetime (two
    * long columns); each micro-batch fingerprints only its own rows.
    */
  def streamWinnowScreen(df: DataFrame, spark: SparkSession, indexDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val fps = graft.operators.Dedup.winnowIndexFps(spark, indexDir).persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.Dedup.winnowScreenBatch(batch, fps), outDir, id)
    }
    (q, fps)
  }

  /** Screen-AND-GROW variant for the winnow substring screen (the
    * `editScreenGrowSinkBatch` discipline): each micro-batch is screened
    * against base history PLUS every prior batch's accumulated
    * fingerprints, then appends its own docs' fingerprints under
    * `indexDir/appended/batch_id=<id>` — so a document quoting one that
    * itself ARRIVED three batches ago is caught without any reindex.
    * The read side excludes the batch's own earlier append (own-batch
    * partition filter). The appends carry NO hot-cap — hotness is a
    * corpus property a batch cannot see; `Dedup.compactWinnowIndex`
    * re-applies it globally at fold time. */
  def winnowScreenGrowSinkBatch(batch: DataFrame, id: Long,
      baseFps: DataFrame, indexDir: String, outDir: String): Unit = {
    val s = batch.sparkSession
    val appendedRoot = s"$indexDir/appended"
    val prior =
      try s.read.parquet(appendedRoot)
        .filter(col("batch_id") =!= id)
        .select("doc_id", "fp")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        baseFps.select("doc_id", "fp").limit(0)
      }
    writeBatchDir(graft.operators.Dedup.winnowScreenBatch(batch,
      baseFps.select("doc_id", "fp").unionByName(prior)), outDir, id)
    writeBatchDir(graft.operators.Dedup.winnowFingerprints(
      batch.select(col("doc_id"), col("text"))), appendedRoot, id)
  }

  def streamWinnowScreenGrow(df: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val fps = graft.operators.Dedup.winnowIndexFps(spark, indexDir).persist()
    (eachBatch(df, checkpoint)(winnowScreenGrowSinkBatch(_, _, fps, indexDir, outDir)), fps)
  }

  // --------------------------------------- streaming edit-distance screen
  /** Streaming edit-distance screen over micro-batches of `(key, name)`
    * rows against the persisted PassJoin segment index
    * (`TextAnalysis.writeEditIndex`) — ingest-time detection of names
    * within Levenshtein ≤ K of frozen history (VERDICT r11 item 5: the
    * last dedup family without a streaming twin). The manifest-validated
    * index relation is cached once for the stream's lifetime; each
    * micro-batch generates probe keys for only its own names (≤ 75 per
    * name).
    */
  def streamEditScreen(df: DataFrame, spark: SparkSession, indexDir: String,
      outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val segs = graft.operators.TextAnalysis
      .editIndexSegments(spark, indexDir).persist()
    val q = eachBatch(df, checkpoint) { (batch, id) =>
      writeBatchDir(graft.operators.TextAnalysis.editScreenBatch(batch, segs), outDir, id)
    }
    (q, segs)
  }

  /** Screen-AND-GROW variant (the `dedup_incremental` maintenance shape
    * applied to the edit family): each micro-batch is screened against
    * base history PLUS every prior batch's accumulated segments, then
    * appends its own names' segments under `indexDir/appended/
    * batch_id=<id>` — so a near-dup of a name first seen three batches
    * ago is caught without any reindex of history. The screen reads the
    * appended root THROUGH a `batch_id =!= id` partition filter (a
    * redelivered batch never sees its own previous write — partition
    * pruning drops the dir). The per-batch cost is probe-keys(batch) + a
    * scan of the accumulated segment relation — the standard
    * incremental-index trade; compaction of `appended/` back into the
    * base via [[graft.operators.TextAnalysis.writeEditIndex]] is the
    * offline maintenance job.
    */
  def editScreenGrowSinkBatch(batch: DataFrame, id: Long, baseSegs: DataFrame,
      indexDir: String, outDir: String): Unit = {
    val s = batch.sparkSession
    val appendedRoot = s"$indexDir/appended"
    val prior =
      try s.read.parquet(appendedRoot)
        .filter(col("batch_id") =!= id)
        .select("name_b", "blk_len", "blk_i", "seg")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        baseSegs.limit(0).select("name_b", "blk_len", "blk_i", "seg")
      }
    writeBatchDir(graft.operators.TextAnalysis
      .editScreenBatch(batch, baseSegs.select("name_b", "blk_len", "blk_i", "seg")
        .unionByName(prior)), outDir, id)
    writeBatchDir(graft.operators.TextAnalysis
      .editSegmentsBuild(batch.select(col("name")).distinct()), appendedRoot, id)
  }

  def streamEditScreenGrow(df: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpoint: String)
      : (StreamingQuery, DataFrame) = {
    val segs = graft.operators.TextAnalysis
      .editIndexSegments(spark, indexDir).persist()
    (eachBatch(df, checkpoint)(editScreenGrowSinkBatch(_, _, segs, indexDir, outDir)), segs)
  }

  /** Streaming blocklist screen over micro-batches of `(doc_id, text)`
    * rows — the ingest-time twin of the batch `blocklist_screen` report.
    * Clean rows go to `clean/`, flagged rows to `flagged/` (hit counts and
    * bp retained as the blame). The verdict is
    * `TextAnalysis.blocklistVerdicts` — the exact expression the batch
    * report aggregates, and total (NULL/empty text is clean, never
    * dropped), so clean + flagged = arrived on every batch. Per-record
    * scoring, no cross-batch state: replay parity with the batch verdicts
    * is exact.
    */
  def streamBlocklistScreen(df: DataFrame, outDir: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(df, checkpoint) { (batch, id) =>
      withPersisted(graft.operators.TextAnalysis.blocklistVerdicts(batch)) { v =>
        writeBatchDir(v.filter(!col("flagged")).drop("flagged"), s"$outDir/clean", id)
        writeBatchDir(v.filter(col("flagged")).drop("flagged"), s"$outDir/flagged", id)
      }
    }

  /** Streaming quality gate over micro-batches of `(doc_id, text)` rows —
    * the ingestion-time twin of the batch `quality_gopher` query. Rows are
    * scored with the SAME rule battery (`TextAnalysis.gopherVerdicts` —
    * one definition of the rules), then routed: `keep` rows to the
    * accepted corpus, rejected rows to a quarantine that RETAINS the
    * per-rule verdict columns — the blame a curation operator reads to
    * tune thresholds (the dead-letter discipline of
    * [[appendWithDeadLetter]], applied to semantic rejection instead of
    * parse failure). The verdict frame is persisted so the two routes
    * score each document once, not twice. Scoring is per-record (no
    * cross-batch state), so replay parity with the batch verdicts is
    * exact.
    */
  def streamQualityGate(df: DataFrame, outDir: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(df, checkpoint) { (batch, id) =>
      withPersisted(graft.operators.TextAnalysis.gopherVerdicts(batch)) { v =>
        writeBatchDir(v.filter(col("keep")).drop("keep"), s"$outDir/accepted", id)
        writeBatchDir(v.filter(!col("keep")).drop("keep"), s"$outDir/rejected", id)
      }
    }

  // ------------------------------------------- stream-stream as-of join
  /** Tagged union row for [[streamAsofJoin]]: `side` is "L" (probe) or
    * "R" (build); `event_id` is carried for probes only (right rows pass
    * any value). `es` is epoch seconds — the same numeric time every
    * batch as-of query joins on.
    */
  case class AsofTagged(user_id: Long, side: String, event_id: Long,
      es: Long, event_time: Timestamp)
  case class PendingProbe(event_id: Long, es: Long)
  case class AsofEnriched(event_id: Long, user_id: Long,
      last_signup_s: Option[Long])

  /** Stream-STREAM as-of join with a staleness horizon — both sides
    * unbounded, per-key state bounded, and the semantics EXACT by
    * construction: the horizon is simultaneously the staleness bound and
    * the state-eviction bound, so the completed stream's output is
    * row-identical to the batch `asofToleranceLe(maxStaleness = horizon)`
    * over the same inputs (the oracle-checked `asof_join_tolerance`
    * shape; StreamingSpec pins the parity). This identity is the whole
    * design: an UNBOUNDED-staleness stream-stream as-of join cannot bound
    * its build state (the latest prior may be arbitrarily old), so the
    * honest streaming contract is the tolerance variant, not the bare
    * one — exactly the trade a feature-store serving join wants anyway.
    *
    * Mechanics (one [[StatefulProcessor]] per key, event-time timers):
    * probes buffer in state until the watermark reaches their time. The
    * boundary is exact because of Spark's late-row admission rule —
    * rows with `eventTime <= watermark` are dropped BEFORE the stateful
    * operator (equality included; StreamingSpec pins this empirically) —
    * so when a flush runs at watermark `wm`, every future right arrival
    * has `rt > wm`: finalizing probes with `es <= wm` can never lose a
    * match, and emission is final, never revised. Eviction is exact for
    * the same reason: every still-admissible future probe has `es > wm`,
    * so any right row it can keep within staleness has
    * `rt > wm − horizon` — dropping `rt <= wm − horizon` can never
    * change an answer (a probe already IN a flush matches against the
    * full list before that flush's eviction). State per key is
    * O(probes within the watermark delay) + O(rights within the horizon
    * window), independent of stream length; an idle key's leftovers are
    * GC'd by a timer armed at the moment its newest right row ages out.
    * Steady-state writes are O(arrivals), not O(state): unchanged lists
    * are appended to (or left alone), never rewritten, and the timer is
    * re-registered only when its fire time moves.
    */
  class AsofStreamProcessor(horizonS: Long)
      extends StatefulProcessor[Long, AsofTagged, AsofEnriched] {
    require(horizonS >= 0, s"horizonS must be non-negative, got $horizonS")
    @transient private var rights: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var probes: org.apache.spark.sql.streaming.ListState[PendingProbe] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rights = getHandle.getListState[Long]("rights", Encoders.scalaLong,
        TTLConfig.NONE)
      probes = getHandle.getListState[PendingProbe]("probes",
        Encoders.product[PendingProbe], TTLConfig.NONE)
    }

    /** Emit every probe the watermark strictly finalized, update both
      * bounded lists (append-only when nothing shrank), and arm the timer
      * for whatever the watermark must finalize next: the earliest
      * pending probe, else the newest right's age-out.
      */
    private def flush(key: Long, oldR: Seq[Long], newR: Seq[Long],
        oldP: Seq[PendingProbe], newP: Seq[PendingProbe],
        wmUs: Long, expiredMs: Long = Long.MinValue): Iterator[AsofEnriched] = {
      val rs = oldR ++ newR
      val (ready, pending) = (oldP ++ newP).partition(_.es * 1000000L <= wmUs)
      val out = ready.map { p =>
        val m = rs.filter(_ <= p.es).maxOption.filter(rt => p.es - rt <= horizonS)
        AsofEnriched(p.event_id, key, m)
      }
      val keepR = rs.filter(rt => rt * 1000000L > wmUs - horizonS * 1000000L)
      if (keepR.size == rs.size) {
        if (newR.nonEmpty) rights.appendList(newR.toArray)
      } else if (keepR.isEmpty) rights.clear()
      else rights.put(keepR.toArray)
      if (ready.isEmpty) {
        if (newP.nonEmpty) probes.appendList(newP.toArray)
      } else if (pending.isEmpty) probes.clear()
      else probes.put(pending.toArray)
      // one wanted timer; touch timer state only when it moves (the timer
      // that just fired is already consumed — deleting it would only log
      // a spurious WARN)
      val want: Option[Long] =
        if (pending.nonEmpty) Some(pending.map(_.es).min * 1000L + 1L)
        else if (keepR.nonEmpty) Some((keepR.max + horizonS) * 1000L + 1L)
        else None
      val have = getHandle.listTimers().filter(_ != expiredMs).toSeq
      if (have != want.toSeq) {
        have.filterNot(want.contains).foreach(getHandle.deleteTimer)
        want.filterNot(have.contains).foreach(getHandle.registerTimer)
      }
      out.iterator
    }

    private def stateLists(): (Seq[Long], Seq[PendingProbe]) = {
      val rs = scala.collection.mutable.ArrayBuffer[Long]()
      rights.get().foreach(rs += _)
      val ps = scala.collection.mutable.ArrayBuffer[PendingProbe]()
      probes.get().foreach(ps += _)
      (rs.toSeq, ps.toSeq)
    }

    override def handleInputRows(key: Long, rows: Iterator[AsofTagged],
        tv: TimerValues): Iterator[AsofEnriched] = {
      val newR = scala.collection.mutable.ArrayBuffer[Long]()
      val newP = scala.collection.mutable.ArrayBuffer[PendingProbe]()
      rows.foreach { r =>
        r.side match {
          case "R" => newR += r.es
          case "L" => newP += PendingProbe(r.event_id, r.es)
          case other => throw new IllegalArgumentException(
            s"streamAsofJoin side tag must be 'L' or 'R', got '$other'")
        }
      }
      val (oldR, oldP) = stateLists()
      flush(key, oldR, newR.toSeq, oldP, newP.toSeq,
        tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsofEnriched] = {
      val (oldR, oldP) = stateLists()
      flush(key, oldR, Nil, oldP, Nil, tv.getCurrentWatermarkInMs() * 1000L,
        expiredMs = info.getExpiryTimeInMs())
    }
  }

  /** Wire [[AsofStreamProcessor]] onto a tagged-union stream of
    * `(user_id, side, event_id, es)` rows. `delay` is the out-of-order
    * tolerance (watermark delay): a probe is answered — finally, exactly
    * once — when the watermark strictly passes its event time.
    */
  def streamAsofJoin(tagged: Dataset[(Long, String, Long, Long)],
      horizonS: Long, delay: String = "1 second"): Dataset[AsofEnriched] = {
    require(horizonS >= 0, s"horizonS must be non-negative, got $horizonS")
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.toDF("user_id", "side", "event_id", "es")
      .withColumn("event_time", timestamp_seconds(col("es")))
      .as[AsofTagged]
      .withWatermark("event_time", delay)
      .groupByKey(_.user_id)
      .transformWithState(new AsofStreamProcessor(horizonS),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
