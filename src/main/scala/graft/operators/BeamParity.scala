package graft.operators

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch twins of the reference's two pipelines, re-expressed as declarative
  * Spark plans (SURVEY.md §2.1 O1–O10, §3 EP1/EP2).
  *
  * Demo1 (`/root/reference/src/main/java/com/jesseekung/beamtutorial/
  * Demo1.java:52-72`): JSON payload → typed record, dropping malformed input
  * and continuing. Rebuilt as `from_json` (NULL on corrupt record) + a
  * null filter — Catalyst keeps the whole parse→filter→project chain inside
  * one whole-stage-codegen stage, so there is no shuffle at any scale.
  *
  * Demo2 (`Demo2.java:110-178`): event-time 1-minute tumbling windows with a
  * per-(window,key) count. Rebuilt as `groupBy(window(ts), user)` — Catalyst
  * plans partial + final HashAggregate around a single hash exchange, exactly
  * Beam's combiner-lifted `Count.perKey` (`Demo2.java:158-160`).
  *
  * `processing_time = now()` (reference `InputMessage.java:43`) is kept out
  * of oracle-checked outputs because it is nondeterministic (SURVEY.md §7.4);
  * the streaming variants in `graft.streaming` carry it.
  *
  * Window starts are emitted as epoch seconds (BIGINT) so the DuckDB oracle
  * comparison is representation-independent.
  */
object BeamParity {

  /** Demo1 batch twin: render rows in the reference's JSON wire format
    * `{"event_time": s, "user_id": n, "click": n}` and run them through the
    * streaming pipeline's own parse ([[Streams.demo1ParseEtl]]), keeping
    * only well-formed records.
    */
  def demo1ParseEtl(spark: SparkSession, dir: String): DataFrame =
    Streams.demo1ParseEtl(Tables.events(spark, dir)
      .select(to_json(struct(
        unix_timestamp(col("ts")).as("event_time"),
        col("user_id"),
        (col("event_id") % 2).as("click"))).as("payload")))
      .select(
        unix_timestamp(col("event_time")).as("event_time_s"),
        col("user_id").cast("long").as("user_id"),
        col("click").cast("long").as("click"))
      .orderBy("event_time_s", "user_id", "click")

  val demo1ParseEtlSql: String =
    """SELECT CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
      |       CAST(user_id AS BIGINT) AS user_id,
      |       CAST(event_id % 2 AS BIGINT) AS click
      |FROM events
      |ORDER BY event_time_s, user_id, click""".stripMargin

  /** Demo1's malformed-input semantics (`Demo1.java:65-68`): corrupt a
    * deterministic subset of payloads, parse, drop-and-continue, then count
    * survivors per user. The corrupt rows (event_id % 7 = 0) must vanish
    * without failing the pipeline.
    */
  /** The parsed-but-unfiltered corrupt-wire pipeline shared by the drop
    * and drop-and-log variants (one column `m`, NULL for malformed rows).
    *
    * A structural validity guard runs BEFORE `from_json`: payloads that are
    * not even object-shaped (`{...}`) map straight to NULL without entering
    * the parser. `CASE WHEN` short-circuits inside whole-stage codegen, so
    * the 14%-corrupt fixture never exercises from_json's per-record
    * exception path — which, across 32 concurrent tasks, used to trigger
    * JIT deoptimization storms that degraded the whole JVM (28 s for this
    * query AND 4× slowdowns on unrelated queries after it, measured at
    * sf0.1, which is why this stage was previously pinned to one task).
    * With the guard, only structurally-plausible-but-invalid JSON (rare by
    * construction at any scale) can throw, and the stage runs fully
    * parallel.
    *
    * The `parse_audit` observation (input + malformed counts, the reference's
    * per-failure log re-expressed as one-pass metrics) lives HERE, on the
    * shared pipeline, for two reasons: Demo1 always logs parse failures, and
    * the CollectMetrics node doubles as a pushdown barrier — without it,
    * Catalyst rewrites the downstream `m IS NOT NULL` filter in terms of
    * `from_json(payload)` and the parse runs 2-3× per row (measured: the
    * barriered plan is ~2× faster end-to-end).
    */
  private def malformedParsed(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(spark, // repartition the narrow typed columns, then
      // build + parse JSON post-shuffle on every core: the shuffle carries
      // (event_id, ts, user_id), never the rendered payload strings
      Tables.events(spark, dir).select(col("event_id"), col("ts"), col("user_id")))
      .select(
        col("event_id"),
        to_json(struct(
          unix_timestamp(col("ts")).as("event_time"),
          col("user_id"),
          lit(1).as("click"))).as("payload"))
      .select(when(col("event_id") % 7 === 0,
          concat(lit("%corrupt%"), col("payload")))
        .otherwise(col("payload")).as("payload"))
      .select(when(
          col("payload").startsWith("{") && col("payload").endsWith("}"),
          from_json(col("payload"), Tables.wireSchema))
        .as("m"))
      .observe("parse_audit",
        count(lit(1)).as("n_input"),
        sum(when(col("m").isNull || col("m.user_id").isNull, 1L).otherwise(0L))
          .as("n_malformed"))

  /** Drop-and-continue + per-user survivor counts, from the parsed wire. */
  private def countSurvivors(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("m").isNotNull && col("m.user_id").isNotNull)
      .groupBy(col("m.user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_parsed"))
      .orderBy("user_id")

  def demo1MalformedDrop(spark: SparkSession, dir: String): DataFrame =
    countSurvivors(malformedParsed(spark, dir))

  val demo1MalformedDropSql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id,
      |       CAST(count(*) AS BIGINT) AS n_parsed
      |FROM events WHERE event_id % 7 <> 0
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Demo1's drop-AND-LOG contract (`Demo1.java:65-68` logs each parse
    * failure): the Spark-native form of the "log" half is `observe` —
    * named metrics accumulated DURING the pass (no second scan), surfaced
    * to listeners/StreamingQueryProgress. The pipeline result is identical
    * to [[demo1MalformedDrop]] BY CONSTRUCTION (structurally: it IS that
    * function — the audit lives on the shared [[malformedParsed]]); this
    * registered name is the one whose `parse_audit` metrics a production
    * pipeline reads via a QueryExecutionListener (OperatorSpec does
    * exactly that).
    */
  def demo1MalformedObserved(spark: SparkSession, dir: String): DataFrame =
    demo1MalformedDrop(spark, dir)

  /** Demo2 batch twin (the flagship): per-(1-minute tumbling window, user)
    * event count (`Demo2.java:149-160`).
    */
  def demo2WindowCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_timestamp(col("window.start")).as("window_start_s"),
        col("user_id"),
        col("cnt"))
      .orderBy("window_start_s", "user_id")

  val demo2WindowCountSql: String =
    """SELECT CAST(floor(epoch(date_trunc('minute', ts))) AS BIGINT) AS window_start_s,
      |       user_id,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start_s, user_id""".stripMargin

  /** Sliding windows (5-minute length, 1-minute slide) — absent from the
    * reference (SURVEY.md §2.2) but same machinery as O6; each event lands in
    * five overlapping windows.
    */
  def slidingWindowCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("window_start_s"),
        col("event_type"),
        col("cnt"),
        col("sum_value"))
      .orderBy("window_start_s", "event_type")

  val slidingWindowCountSql: String =
    """WITH exploded AS (
      |  SELECT unnest(list_transform(range(0, 5),
      |           i -> date_trunc('minute', ts) - to_minutes(i))) AS window_start,
      |         event_type, value
      |  FROM events)
      |SELECT CAST(floor(epoch(window_start)) AS BIGINT) AS window_start_s,
      |       event_type,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       round(sum(value), 2) AS sum_value
      |FROM exploded
      |GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin

  /** Session windows (5-minute inactivity gap) per user — absent from the
    * reference; Spark's `session_window` (a new session starts when
    * ts >= previous ts + gap). Oracle is the classic gaps-and-islands
    * rewrite.
    */
  def sessionWindowCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_timestamp(col("session_window.start")).as("session_start_s"),
        col("user_id"),
        col("cnt"))
      .orderBy("session_start_s", "user_id")

  val sessionWindowCountSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                   >= INTERVAL 5 MINUTE OR
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
      |       user_id,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY session_start_s, user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "demo1_parse_etl" -> (demo1ParseEtl _),
    "demo1_malformed_drop" -> (demo1MalformedDrop _),
    "demo1_malformed_observed" -> (demo1MalformedObserved _),
    "demo2_window_count" -> (demo2WindowCount _),
    "sliding_window_count" -> (slidingWindowCount _),
    "session_window_count" -> (sessionWindowCount _))

  def oracles: Map[String, String] = Map(
    "demo1_parse_etl" -> demo1ParseEtlSql,
    "demo1_malformed_drop" -> demo1MalformedDropSql,
    // identical result by construction: the observe call only adds metrics
    "demo1_malformed_observed" -> demo1MalformedDropSql,
    "demo2_window_count" -> demo2WindowCountSql,
    "sliding_window_count" -> slidingWindowCountSql,
    "session_window_count" -> sessionWindowCountSql)
}
