package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Msg, Pane}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming-semantics tests (SURVEY.md §5 item 3): the reference
  * publisher's canonical scenario (3 users × 10 messages, 10 s apart —
  * `utils/message_publisher.py:113-116`) plus deliberately-late events
  * inside and beyond the skew+lateness horizon.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("demo1: malformed JSON is dropped, pipeline continues (O2)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val out = Streams.demo1ParseEtl(in.toDF().withColumnRenamed("value", "payload"))
    val q = out.writeStream.format("memory").queryName("demo1_out")
      .outputMode("append").start()
    try {
      in.addData(
        """{"event_time": 1704100000, "user_id": 1000, "click": 1}""",
        """not json at all""",
        """{"event_time": 1704100010, "user_id": 1001, "click": 1}""",
        """{"garbage": true}""")
      q.processAllAvailable()
      val rows = spark.table("demo1_out").collect()
      assert(rows.length == 2) // 2 parsed, 2 dropped (no exception thrown)
      val uids = rows.map(_.getAs[Int]("user_id")).toSet
      assert(uids == Set(1000, 1001))
      assert(rows.forall(_.getAs[Timestamp]("processing_time") != null))
    } finally q.stop()
  }

  test("demo2: windowed counts fire on watermark, per publisher scenario (O5-O10)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Msg]
    val out = Streams.demo2WindowedCounts(in.toDF())
    val q = out.writeStream.format("memory").queryName("demo2_out")
      .outputMode("append").start()
    try {
      // 3 users × 10 messages, 10 s apart: 10:00:00 .. 10:01:30
      val base = ts("2024-01-01 10:00:00").getTime
      val msgs = for {
        uid <- Seq(1000, 1001, 1002)
        i <- 0 until 10
      } yield Msg(new Timestamp(base + i * 10000L), uid)
      in.addData(msgs)
      q.processAllAvailable()
      // advance the watermark past both windows: 10:05 - 2 min = 10:03
      in.addData(Msg(ts("2024-01-01 10:05:00"), 9999))
      q.processAllAvailable()
      in.addData(Msg(ts("2024-01-01 10:05:01"), 9999))
      q.processAllAvailable()
      val rows = spark.table("demo2_out")
        .collect().map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[Int]("user_id"), r.getAs[Long]("cnt")))
      for (uid <- Seq(1000, 1001, 1002)) {
        // [10:00,10:01): events at 0..50 s → 6; [10:01,10:02): 60..90 s → 4
        assert(rows.contains(("2024-01-01 10:00:00.0", uid, 6L)), s"on-time window uid=$uid")
        assert(rows.contains(("2024-01-01 10:01:00.0", uid, 4L)), s"second window uid=$uid")
      }
    } finally q.stop()
  }

  test("late panes: ON_TIME at watermark, LATE delta within horizon, drop beyond (O7/O9)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Msg]
    val out = Streams.latePanes(in.toDS())
    val q = out.writeStream.format("memory").queryName("panes_out")
      .outputMode("append").start()
    try {
      // window W = [10:00, 10:01) for user 1
      in.addData(Msg(ts("2024-01-01 10:00:05"), 1), Msg(ts("2024-01-01 10:00:15"), 1),
        Msg(ts("2024-01-01 10:02:00"), 99)) // Beam wm → 10:02 > W end
      q.processAllAvailable()
      // next batch lets the ON_TIME timer fire (spark wm now 10:00:00)
      in.addData(Msg(ts("2024-01-01 10:02:01"), 99))
      q.processAllAvailable()
      // late event inside the horizon (10:00:30 >= spark wm): LATE delta pane
      in.addData(Msg(ts("2024-01-01 10:00:30"), 1))
      q.processAllAvailable()
      // push spark wm past W end (10:03:30 - 2m = 10:01:30): W is GC'd
      in.addData(Msg(ts("2024-01-01 10:03:30"), 99))
      q.processAllAvailable()
      // beyond-horizon event: dropped silently
      in.addData(Msg(ts("2024-01-01 10:00:45"), 1))
      q.processAllAvailable()
      in.addData(Msg(ts("2024-01-01 10:03:31"), 99))
      q.processAllAvailable()

      val panes = spark.table("panes_out").as[Pane].collect()
        .filter(_.user_id == 1)
        .map(p => (p.window_start.toString, p.cnt, p.pane)).toList.sorted
      assert(panes == List(
        ("2024-01-01 10:00:00.0", 1L, "LATE"),
        ("2024-01-01 10:00:00.0", 2L, "ON_TIME")),
        s"got $panes")
    } finally q.stop()
  }

  test("streaming top-k via transformWithState MapState: counts accumulate across batches") {
    val s2 = SparkTestSession.rocksDbSession("graft-topk-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val in = MemoryStream[(String, Int)]
    val q = Streams.streamingTopK(in.toDS(), 2)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("append").start()
    try {
      in.addData(("click", 1), ("click", 1), ("click", 2), ("view", 3))
      q.processAllAvailable()
      in.addData(("click", 2), ("click", 2), ("click", 3))
      q.processAllAvailable()
      // latest click snapshot: user 2 has 3, user 1 has 2 (user 3 has 1)
      val last = s2.table("topk_out").as[Streams.TopK].collect()
        .filter(_.event_type == "click")
        .groupBy(_.rank).map { case (r, rows) => r -> rows.maxBy(_.cnt) }
      assert(last(1).user_id == 2 && last(1).cnt == 3L, s"got ${last(1)}")
      assert(last(2).user_id == 1 && last(2).cnt == 2L, s"got ${last(2)}")
    } finally q.stop()
  }

  test("streaming top-k state stays bounded under high cardinality (SpaceSaving)") {
    val s2 = SparkTestSession.rocksDbSession("graft-topk-bounded-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val in = MemoryStream[(String, Int)]
    val k = 3; val slack = 4 // capacity 12 counters per event type
    val q = Streams.streamingTopK(in.toDS(), k, slack)
      .writeStream.format("memory").queryName("topk_bounded_out")
      .outputMode("append").start()
    try {
      // heavy hitters first (their counters are created while the summary
      // has room and are never the minimum afterwards → exact counts) ...
      val heavies = Seq.fill(200)(("click", 1)) ++ Seq.fill(150)(("click", 2)) ++
        Seq.fill(100)(("click", 3))
      in.addData(scala.util.Random.shuffle(heavies): _*)
      q.processAllAvailable()
      // ... then a 400-user singleton tail — 100× the 12-counter capacity;
      // SpaceSaving bounds any tail counter by n/capacity ≈ 46 < 100
      in.addData((1000 until 1400).map(u => ("click", u)): _*)
      q.processAllAvailable()
      val rows = s2.table("topk_bounded_out").as[Streams.TopK].collect()
      val finalTop = rows.groupBy(_.rank).map { case (r, rs) => r -> rs.maxBy(_.cnt) }
      assert(finalTop(1).user_id == 1 && finalTop(1).cnt == 200L, s"got ${finalTop(1)}")
      assert(finalTop(2).user_id == 2 && finalTop(2).cnt == 150L, s"got ${finalTop(2)}")
      assert(finalTop(3).user_id == 3 && finalTop(3).cnt == 100L, s"got ${finalTop(3)}")
      // the state store holds the bounded summary, not the 403-user universe
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= (k * slack + 1).toLong,
        s"state rows $stateRows exceed the k*slack=12 summary bound")
    } finally q.stop()
  }

  test("streaming funnel matches the batch funnel on out-of-order replay") {
    val s2 = SparkTestSession.rocksDbSession("graft-funnel-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val sfDir = SparkTestSession.sf
    val evs = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts").collect()
      .map { r =>
        val i = r.getAs[Timestamp]("ts").toInstant
        (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          i.getEpochSecond * 1000000L + i.getNano / 1000L)
      }.toSeq
    // the same ordered-funnel semantics computed independently as a fold
    val expected = evs.groupBy(_._1).map { case (u, es) =>
      val views = es.filter(_._2 == "view").map(_._3)
      val t1 = if (views.isEmpty) -1L else views.min
      val qClicks = if (t1 < 0) Seq.empty else es.filter(e => e._2 == "click" && e._3 > t1).map(_._3)
      val t2 = if (qClicks.isEmpty) -1L else qClicks.min
      val qPurch = if (t2 < 0) Seq.empty else es.filter(e => e._2 == "purchase" && e._3 > t2).map(_._3)
      val t3 = if (qPurch.isEmpty) -1L else qPurch.min
      val stage = if (t3 >= 0) 3 else if (t2 >= 0) 2 else if (t1 >= 0) 1 else 0
      u -> ((stage, t1, t2, t3))
    }
    val in = MemoryStream[(Long, String, Long)]
    val q = Streams.streamingFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // adversarial replay: shuffled arrival order across three batches, so
      // late-arriving earlier views must revise already-emitted stages
      val shuffled = new scala.util.Random(42).shuffle(evs)
      shuffled.grouped(shuffled.size / 3 + 1).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      // snapshots are monotone (stage never decreases, times never rise),
      // so the per-user final state is the best snapshot emitted
      val finalByUser = s2.table("funnel_out").as[Streams.FunnelStage].collect()
        .groupBy(_.user_id).map { case (u, snaps) =>
          u -> snaps.map(s => (s.stage, s.t1, s.t2, s.t3))
            .maxBy { case (st, a, b, c) => (st, -a, -b, -c) }
        }
      expected.foreach { case (u, exp) =>
        assert(finalByUser(u) == exp, s"user $u: got ${finalByUser(u)}, want $exp")
      }
      // and the aggregate counts agree with the batch query itself
      val batch = operators.TimeSeries.eventFunnel(spark, sfDir).collect()(0)
      assert(batch.getAs[Long]("n_view") == expected.count(_._2._1 >= 1).toLong)
      assert(batch.getAs[Long]("n_view_click") == expected.count(_._2._1 >= 2).toLong)
      assert(batch.getAs[Long]("n_full_funnel") == expected.count(_._2._1 == 3).toLong)
    } finally q.stop()
  }

  test("streaming funnel state stays bounded under the event-time horizon (timer GC)") {
    val s2 = SparkTestSession.rocksDbSession("graft-funnel-bounded-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val q = Streams.streamingFunnel(in.toDS(), horizon = "10 seconds")
      .writeStream.format("memory").queryName("funnel_bounded_out")
      .outputMode("append").start()
    try {
      val baseUs = 1704100000L * 1000000L
      // a hot clicking user with NO view yet: every click is live revision
      // evidence (a future view could make any of them t2) until the
      // watermark passes it — the worst case for funnel state growth
      for (b <- 0 until 20) {
        val t = baseUs + b * 60L * 1000000L // stream frontier: 1 min per batch
        in.addData((0 until 50).map(i => (1L, "click", t + i * 1000L)): _*)
        q.processAllAvailable()
      }
      // 1000 clicks streamed; the 10 s horizon retains ≈ the last two batches
      val hotRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(hotRows <= 300L,
        s"state rows $hotRows not horizon-bounded after 1000 clicks")
      // the view arrives at the frontier: only clicks STRICTLY after it
      // qualify, so t2 must be the second click of the newest batch — the
      // GC'd clicks are all ≤ watermark < t1 and could never have qualified
      val tView = baseUs + 19L * 60L * 1000000L
      in.addData((1L, "view", tView))
      q.processAllAvailable()
      in.addData((1L, "purchase", tView + 2000L))
      q.processAllAvailable()
      val best = s2.table("funnel_bounded_out").as[Streams.FunnelStage].collect()
        .filter(_.user_id == 1L)
        .maxBy(s => (s.stage, -s.t1, -s.t2, -s.t3))
      assert(best == Streams.FunnelStage(1L, 3, tView, tView + 1000L, tView + 2000L),
        s"got $best")
      // idle-key GC: another user advances the watermark past user 1's kept
      // evidence; the timer fires with no user-1 input and empties the lists
      in.addData((2L, "view", tView + 600L * 1000000L))
      q.processAllAvailable()
      in.addData((2L, "view", tView + 601L * 1000000L))
      q.processAllAvailable()
      val idleRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(idleRows <= 10L,
        s"state rows $idleRows after idle horizon — timer GC did not run")
    } finally q.stop()
  }

  test("funnel idle retention drops dormant summaries; the default keeps them forever") {
    // The StateDrill finding turned spec: evidence lists were always
    // GC'd, but the O(1) per-user summary outlived every user — state
    // grew with DISTINCT USERS EVER SEEN, not the active population.
    // With idleRetentionMs the summary follows its user out after the
    // watermark sits idle past the retention; the default preserves the
    // exact batch-parity semantics (a returning user resumes their
    // funnel), which is the documented trade.
    val s2 = SparkTestSession.rocksDbSession("graft-funnel-retention-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val baseUs = 1704100000L * 1000000L
    def drive(name: String, retentionMs: Long): (Long, Seq[Streams.FunnelStage]) = {
      val in = MemoryStream[(Long, String, Long)]
      val q = Streams.streamingFunnel(in.toDS(), horizon = "5 seconds",
          idleRetentionMs = retentionMs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // cohort: 20 users view at t0
        in.addData((1L to 20L).map(u => (u, "view", baseUs + u)): _*)
        q.processAllAvailable()
        // three heartbeats march the watermark far past horizon+retention:
        // the first drains evidence, the second arms+fires nothing new,
        // the third fires the retention timers armed at the drain
        Seq(600L, 700L, 800L).foreach { s =>
          in.addData((999L, "view", baseUs + s * 1000000L))
          q.processAllAvailable()
        }
        val rows = q.lastProgress.stateOperators(0).numRowsTotal
        // user 1 returns with a click at the frontier
        in.addData((1L, "click", baseUs + 900L * 1000000L))
        q.processAllAvailable()
        val snaps = s2.table(name).as[Streams.FunnelStage].collect()
          .filter(_.user_id == 1L).toSeq
        (rows, snaps)
      } finally q.stop()
    }
    val (retainedRows, retainedSnaps) = drive("funnel_ret_on", 30000L)
    val (foreverRows, foreverSnaps) = drive("funnel_ret_off", Long.MaxValue)
    // retention: only the heartbeat user (and the freshly-returned user 1)
    // can still hold state — the 20-user cohort's summaries are gone
    assert(retainedRows <= 8L,
      s"retention left $retainedRows state rows for a 21-user history")
    // and the returning user RESTARTED: their click has no prior view to
    // qualify against, so the latest snapshot is stage 0
    assert(retainedSnaps.last.stage == 0, s"got ${retainedSnaps.last}")
    // default: all 21 summaries survive, and the same click RESUMES the
    // funnel (view at t0 still known -> stage 2)
    assert(foreverRows >= 21L,
      s"default retention must keep every summary, saw $foreverRows")
    assert(foreverSnaps.last.stage == 2, s"got ${foreverSnaps.last}")
  }

  test("streaming frequency monitor: per-window count-min grid equals a single pass") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val monitored = Streams.frequencyMonitor(
      in.toDF().toDF("event_time", "user"),
      timeCol = "event_time", keyCol = "user",
      delay = "1 minute", windowDur = "1 minute",
      watch = Seq("u1", "u2"), depth = 3, width = 16)
    val q = monitored.writeStream.format("memory").queryName("freq_out")
      .outputMode("append").start()
    try {
      // window 1 arrives across TWO micro-batches, so the window's state
      // grid must merge partial grids; noise keys share the small grid so
      // real collisions are in play
      val w1a = Seq.fill(5)((ts("2024-01-01 10:00:05"), "u1")) ++
        (1 to 7).map(i => (ts("2024-01-01 10:00:10"), s"noise$i"))
      val w1b = Seq.fill(3)((ts("2024-01-01 10:00:20"), "u2")) ++
        Seq.fill(2)((ts("2024-01-01 10:00:25"), "u1"))
      val w2 = Seq.fill(4)((ts("2024-01-01 10:01:10"), "u2"))
      in.addData(w1a: _*); q.processAllAvailable()
      in.addData(w1b ++ w2: _*); q.processAllAvailable()
      in.addData((ts("2024-01-01 10:30:00"), "u9")); q.processAllAvailable()
      // reference: ONE single-pass grid per window from the same aggregator
      // — cross-micro-batch state merge must be indistinguishable from it
      def ref(rows: Seq[String]): Map[String, Long] = {
        val a = new graft.functions.CountMinAggregator(3, 16)
        val sk = a.finish(rows.foldLeft(a.zero)(a.reduce))
        Seq("u1", "u2").map(item => item -> sk.estimate(item)).toMap
      }
      val exp1 = ref((w1a ++ w1b).map(_._2))
      val exp2 = ref(w2.map(_._2))
      val rows = spark.table("freq_out").collect()
        .map(r => r.getAs[Timestamp]("window_start").toString ->
          ((r.getAs[Long]("n_rows"), r.getAs[Long]("est_u1"),
            r.getAs[Long]("est_u2")))).toMap
      assert(rows("2024-01-01 10:00:00.0") == ((17L, exp1("u1"), exp1("u2"))))
      assert(rows("2024-01-01 10:01:00.0") == ((4L, exp2("u1"), exp2("u2"))))
      // overcount-only on the true per-window counts
      assert(exp1("u1") >= 7L && exp1("u2") >= 3L && exp2("u2") >= 4L)
      // duplicate watch keys would silently alias columns — refused loudly
      val dup = intercept[IllegalArgumentException] {
        Streams.frequencyMonitor(in.toDF().toDF("event_time", "user"),
          "event_time", "user", "1 minute", "1 minute", watch = Seq("a", "a"))
      }
      assert(dup.getMessage.contains("distinct"), dup.getMessage)
    } finally q.stop()
  }

  test("streaming percentile monitor: per-window t-digest quantiles track exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val monitored = Streams.percentileMonitor(
      in.toDF().toDF("event_time", "latency_ms"),
      timeCol = "event_time", valueCol = "latency_ms",
      delay = "1 minute", windowDur = "1 minute")
    val q = monitored.writeStream.format("memory").queryName("pct_out")
      .outputMode("append").start()
    try {
      // window 1: 1..20 ms (p50 between 10 and 11, p95 near 19-20);
      // window 2: a skewed tail — 19×1 ms plus one 1000 ms spike
      val w1 = (1 to 20).map(i => (ts("2024-01-01 10:00:05"), i.toDouble))
      val w2 = (1 to 19).map(_ => (ts("2024-01-01 10:01:10"), 1.0)) :+
        (ts("2024-01-01 10:01:20"), 1000.0)
      in.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:30:00"), 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("pct_out").collect()
        .map(r => r.getAs[Timestamp]("window_start").toString ->
          (r.getAs[Long]("n_rows"), r.getAs[Double]("p50"),
            r.getAs[Double]("p95"))).toMap
      val (n1, p50a, p95a) = rows("2024-01-01 10:00:00.0")
      assert(n1 == 20L)
      assert(p50a >= 10.0 && p50a <= 11.0, s"w1 p50 $p50a")
      assert(p95a >= 18.0 && p95a <= 20.0, s"w1 p95 $p95a")
      val (n2, p50b, p95b) = rows("2024-01-01 10:01:00.0")
      assert(n2 == 20L)
      // the median must ignore the spike; the p95 must see it
      assert(p50b == 1.0, s"w2 p50 $p50b")
      assert(p95b > 100.0, s"w2 p95 $p95b — tail spike lost")
      // quantiles that round to the same column label are refused loudly
      // instead of producing a duplicate-column frame
      val dup = intercept[IllegalArgumentException] {
        Streams.percentileMonitor(in.toDF().toDF("event_time", "latency_ms"),
          "event_time", "latency_ms", "1 minute", "1 minute",
          quantiles = Seq(0.95, 0.954))
      }
      assert(dup.getMessage.contains("distinct"), dup.getMessage)
    } finally q.stop()
  }

  test("streaming quality monitor: per-window violation counts, null counts against") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, java.lang.Double)]
    val monitored = Streams.qualityMonitor(
      in.toDF().toDF("event_time", "value"),
      timeCol = "event_time", delay = "1 minute", windowDur = "1 minute",
      constraints = Seq(
        "value_positive" -> (col("value") > 0.0),
        "value_capped" -> (col("value") < 100.0)))
    val q = monitored.writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
      in.addData(
        (ts("2024-01-01 10:00:05"), d(5.0)),
        (ts("2024-01-01 10:00:15"), d(-1.0)),              // violates positive
        (ts("2024-01-01 10:00:25"), null: java.lang.Double), // null violates BOTH
        (ts("2024-01-01 10:01:10"), d(250.0)),             // violates capped
        (ts("2024-01-01 10:01:20"), d(7.0)))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:30:00"),
        java.lang.Double.valueOf(1.0))) // advance watermark, fire panes
      q.processAllAvailable()
      val rows = spark.table("quality_out").collect()
        .map(r => r.getAs[Timestamp]("window_start").toString ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("v_value_positive"),
            r.getAs[Long]("v_value_capped"))).toMap
      assert(rows("2024-01-01 10:00:00.0") == ((3L, 2L, 1L)))
      assert(rows("2024-01-01 10:01:00.0") == ((2L, 0L, 1L)))
    } finally q.stop()
  }

  test("streaming mixture drift: fired windows score KL/TV against the baseline") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val baseline = Seq(("a", 0.5), ("b", 0.5)).toDF("source", "p_base")
    val reports = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val in = MemoryStream[(Timestamp, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_drift_ckpt").toString
    val q = Streams.streamMixtureDrift(
      in.toDF().toDF("event_time", "source"),
      "event_time", "1 minute", "1 minute", baseline, ckpt,
      (report, _) => { reports ++= report.collect(); () })
    try {
      // window 10:00 — observed mix (a: 3/4, b: 1/4) vs baseline (1/2, 1/2)
      in.addData(
        (ts("2024-01-01 10:00:01"), "a"), (ts("2024-01-01 10:00:02"), "a"),
        (ts("2024-01-01 10:00:03"), "a"), (ts("2024-01-01 10:00:04"), "b"),
        // window 10:01 — a source UNKNOWN to the baseline
        (ts("2024-01-01 10:01:01"), "c"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:30:00"), "a")) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val byKey = reports.map(r => (r.getAs[Timestamp]("window_start").toString,
      r.getAs[String]("source")) -> r).toMap
    val a = byKey(("2024-01-01 10:00:00.0", "a"))
    assert(a.getAs[Double]("p_obs") == 0.75)
    assert(a.getAs[Double]("kl_term") == math.rint(0.75 * math.log(1.5) * 1e6) / 1e6)
    assert(a.getAs[Double]("tv_term") == 0.125)
    val c = byKey(("2024-01-01 10:01:00.0", "c"))
    assert(c.isNullAt(c.fieldIndex("kl_term")), "unknown source must report NULL KL")
    assert(c.getAs[Double]("tv_term") == 0.5)
    // the VANISHED-source signal: window 10:01 saw zero 'a'/'b' events, yet
    // both baseline sources must still report (n=0, kl 0.0, tv = p_base/2)
    val vanished = byKey(("2024-01-01 10:01:00.0", "a"))
    assert(vanished.getAs[Long]("n") == 0L)
    assert(vanished.getAs[Double]("kl_term") == 0.0)
    assert(vanished.getAs[Double]("tv_term") == 0.25,
      "a source with zero events in a window must surface its full TV drift")
  }

  test("batch/stream unification: demo2 transform works on a batch frame (O12)") {
    import spark.implicits._
    val batch = Seq(
      Msg(ts("2024-01-01 10:00:05"), 1), Msg(ts("2024-01-01 10:00:15"), 1),
      Msg(ts("2024-01-01 10:01:05"), 1)).toDF()
    val out = Streams.demo2WindowedCounts(batch).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("cnt"))).toSet
    assert(out == Set(("2024-01-01 10:00:00.0", 2L), ("2024-01-01 10:01:00.0", 1L)))
  }

  test("sliding windows streamed: replayed fixture equals the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_timestamp
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    // the full fixture — no truncation, so every batch-twin window is
    // fully covered by the replay
    val events = graft.Tables.events(spark, sf)
      .select("ts", "event_type", "value")
      .collect()
      .map(r => (r.getAs[Timestamp]("ts"), r.getAs[String]("event_type"),
        r.getAs[Double]("value")))
    val maxTs = events.map(_._1.getTime).max
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = Streams.slidingWindowedCounts(
        in.toDF().toDF("event_time", "event_type", "value"))
      .writeStream.format("memory").queryName("sliding_replay")
      .outputMode("append").start()
    try {
      in.addData(events.toIndexedSeq)
      q.processAllAvailable()
      // sentinel far past every window end + watermark delay: fires all panes
      in.addData((new Timestamp(maxTs + 3600 * 1000L), "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sliding_replay")
        .filter($"event_type" =!= "sentinel")
        .select(unix_timestamp($"window_start").as("window_start_s"),
          $"event_type", $"cnt", $"sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.operators.BeamParity.slidingWindowCount(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("window_start_s"), r.getAs[String]("event_type"),
          r.getAs[Long]("cnt"), r.getAs[Double]("sum_value"))).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming ANN enrichment: micro-batched queries equal the batch rerank twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-ann-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-ckpt").toString
    // the batch query's fixture probes, replayed as THREE micro-batches so
    // the parity covers the multi-batch path, not one degenerate batch
    val probes = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
    assert(probes.length >= 3)
    val chunks = probes.grouped(2).toSeq
    val in = MemoryStream[(Long, Array[Float])]
    val (q, cached) = Streams.streamAnnEnrich(
      in.toDF().toDF("qid", "qemb"), spark, sf, outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      assert(batchDirs.length == chunks.length,
        s"expected ${chunks.length} micro-batch outputs, got ${batchDirs.length}")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))
      val streamed = spark.read.parquet(outDir)
        .select("qid", "rank", "vec_id", "cosine").collect().map(key).toSet
      val batch = operators.Similarity.pqAdcRerankTopk(spark, sf)
        .collect().map(key).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally {
      q.stop()
      cached.foreach(_.unpersist())
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming as-of enrichment: micro-batched purchases equal the batch native twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-asof-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-asof-ckpt").toString
    // the batch query's full purchase fixture, replayed as THREE
    // micro-batches so parity covers the multi-batch path
    val purchases = graft.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.unix_timestamp(
          org.apache.spark.sql.functions.col("ts")).as("es"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(purchases.length >= 3)
    val chunks = purchases.grouped((purchases.length + 2) / 3).toSeq
    // ceil(n/ceil(n/3)) is 3 for most n but 2 at n=4 — multi-batch replay
    // is what the parity claim needs, not exactly three
    assert(chunks.length >= 2 && chunks.length <= 3)
    val in = MemoryStream[(Long, Long, Long)]
    val (q, dim) = Streams.streamAsofEnrich(
      in.toDF().toDF("event_id", "user_id", "es"), spark, sf, outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      assert(batchDirs.length == chunks.length,
        s"expected ${chunks.length} micro-batch outputs, got ${batchDirs.length}")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))
      val streamed = spark.read.parquet(outDir)
        .select("event_id", "user_id", "last_signup_s")
        .collect().map(key).toSet
      val batch = operators.TemporalJoins.asofJoinNative(spark, sf)
        .select("event_id", "user_id", "last_signup_s")
        .collect().map(key).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
      // the serving-plan claim: the broadcast hint routes each micro-batch
      // through AsofBroadcastJoinExec, so the probe (stream) side sees NO
      // exchange — the whole point of the pattern for a low-latency trickle
      val planStr = Streams.asofEnrichPlan(
        chunks.head.toSeq.toDF("event_id", "user_id", "es"), dim)
        .queryExecution.executedPlan.toString
      assert(planStr.contains("AsofBroadcastJoin"),
        s"expected the broadcast as-of exec in the micro-batch plan:\n$planStr")
      assert(!planStr.contains("Exchange hashpartitioning"),
        s"expected a shuffle-free probe side:\n$planStr")
    } finally {
      q.stop()
      dim.unpersist()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("stream-stream as-of join: completed replay equals the batch tolerance twin") {
    val s2 = SparkTestSession.rocksDbSession("graft-asof-ss-test")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val sf = SparkTestSession.sf
    val horizon = 2L * 86400L // the asof_join_tolerance bound
    // tagged union of the batch query's exact inputs, replayed in event
    // order (the operator's in-order contract; the 1 s default watermark
    // delay covers same-second ties split across micro-batches)
    val ev = graft.Tables.events(s2, sf)
      .filter(org.apache.spark.sql.functions.col("event_type")
        .isin("purchase", "signup"))
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.unix_timestamp(
          org.apache.spark.sql.functions.col("ts")).as("es"))
      .collect()
      .map(r => (r.getLong(2), if (r.getString(0) == "purchase") "L" else "R",
        r.getLong(1), r.getLong(3)))
      .sortBy(_._4)
    val chunks = ev.grouped((ev.length + 3) / 4).toSeq
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = Streams.streamAsofJoin(in.toDS(), horizon)
      .writeStream.format("memory").queryName("asof_ss_out")
      .outputMode("append").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      // a far-future right row flushes the watermark past every probe
      in.addData((-1L, "R", 0L, ev.map(_._4).max + 10L * 86400L))
      q.processAllAvailable()
      val got = s2.table("asof_ss_out").as[Streams.AsofEnriched].collect()
        .map(e => (e.event_id, e.user_id, e.last_signup_s)).toSet
      val want = operators.TemporalJoins.asofJoinTolerance(s2, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(got == want,
        s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("stream-stream as-of admission boundary: watermark-equal rows are dropped before the operator") {
    // the flush boundaries (finalize es <= wm, evict rt <= wm - horizon)
    // are exact ONLY IF Spark's late filter drops rows with
    // eventTime <= watermark — equality included — before the stateful
    // operator. This pins that admission rule empirically: a probe
    // arriving AT the watermark produces no output row ever (it was
    // dropped, not mismatched), while a probe one second above the
    // watermark is admitted and answers exactly.
    val s2 = SparkTestSession.rocksDbSession("graft-asof-ss-boundary")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = Streams.streamAsofJoin(in.toDS(), horizonS = 10L)
      .writeStream.format("memory").queryName("asof_ss_boundary_out")
      .outputMode("append").start()
    try {
      val base = 1704100000L
      in.addData((1L, "R", 0L, base - 6L), (99L, "R", 0L, base + 1L))
      q.processAllAvailable() // wm = base (1 s delay)
      in.addData((1L, "L", 7L, base))      // es == wm: dropped by Spark
      in.addData((1L, "L", 8L, base + 1L)) // es == wm + 1: admitted
      q.processAllAvailable()
      in.addData((1L, "R", 0L, base + 1L)) // same-second right for probe 8
      q.processAllAvailable()
      in.addData((99L, "R", 0L, base + 3600L)) // flush watermark
      q.processAllAvailable()
      in.addData((99L, "R", 0L, base + 3700L)) // drain any timer batch
      q.processAllAvailable()
      val got = s2.table("asof_ss_boundary_out").as[Streams.AsofEnriched]
        .collect().map(e => e.event_id -> e.last_signup_s).toMap
      assert(!got.contains(7L),
        s"a watermark-equal probe must be dropped pre-operator, got ${got.get(7L)}")
      assert(got.get(8L) == Some(Some(base + 1L)),
        s"the admitted probe must match its same-second right row, got ${got.get(8L)}")
    } finally q.stop()
  }

  test("stream-stream as-of state stays horizon-bounded under a hot build side") {
    val s2 = SparkTestSession.rocksDbSession("graft-asof-ss-bounded")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val in = MemoryStream[(Long, String, Long, Long)]
    val horizon = 100L // seconds
    val q = Streams.streamAsofJoin(in.toDS(), horizon)
      .writeStream.format("memory").queryName("asof_ss_bounded_out")
      .outputMode("append").start()
    try {
      val base = 1704100000L
      // one hot instrument: 50 quotes per batch, frontier advancing 60 s
      // per batch, 20 batches = 1000 right rows; the 100 s horizon must
      // retain only the newest ~2 batches regardless of history length
      for (b <- 0 until 20) {
        val t = base + b * 60L
        in.addData((0 until 50).map(i => (1L, "R", 0L, t + i)): _*)
        q.processAllAvailable()
      }
      val hotRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(hotRows <= 300L,
        s"state rows $hotRows not horizon-bounded after 1000 right rows")
      // a probe at the frontier still matches the newest in-horizon quote
      val tLast = base + 19L * 60L + 49L
      in.addData((1L, "L", 42L, tLast + 1L))
      q.processAllAvailable()
      in.addData((1L, "R", 0L, tLast + 301L)) // flush watermark past it
      q.processAllAvailable()
      val got = s2.table("asof_ss_bounded_out").as[Streams.AsofEnriched]
        .collect().filter(_.event_id == 42L)
      assert(got.length == 1 && got.head.last_signup_s == Some(tLast),
        s"got ${got.toSeq}")
      // idle-key GC: another key advances the watermark past key 1's
      // newest right + horizon; the age-out timer must empty its list
      in.addData((2L, "R", 0L, tLast + 1000L)); q.processAllAvailable()
      in.addData((2L, "R", 0L, tLast + 1001L)); q.processAllAvailable()
      val idleRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(idleRows <= 10L,
        s"state rows $idleRows after idle horizon — age-out timer did not run")
    } finally q.stop()
  }

  test("session windows streamed: replayed fixture equals the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_timestamp
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val events = graft.Tables.events(spark, sf)
      .select("ts", "user_id")
      .collect()
      .map(r => (r.getAs[Timestamp]("ts"), r.getAs[Long]("user_id")))
    val maxTs = events.map(_._1.getTime).max
    val in = MemoryStream[(Timestamp, Long)]
    val q = Streams.sessionWindowedCounts(in.toDF().toDF("event_time", "user_id"))
      .writeStream.format("memory").queryName("session_replay")
      .outputMode("append").start()
    try {
      in.addData(events.toIndexedSeq)
      q.processAllAvailable()
      // close every session: later than any session end + gap + watermark
      in.addData((new Timestamp(maxTs + 3600 * 1000L), -1L))
      q.processAllAvailable()
      val streamed = spark.table("session_replay")
        .filter($"user_id" =!= -1L)
        .select(unix_timestamp($"session_start").as("session_start_s"),
          $"user_id", $"cnt")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.BeamParity.sessionWindowCount(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("session_start_s"), r.getAs[Long]("user_id"),
          r.getAs[Long]("cnt"))).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming quality gate: accepted+rejected replay equals the batch verdicts, rejects carry blame") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-gate-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gate-ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamQualityGate(
      in.toDF().toDF("doc_id", "text"), outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val accepted = spark.read.parquet(s"$outDir/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val rejected = spark.read.parquet(s"$outDir/rejected")
      val rejectedIds = rejected.select("doc_id").collect().map(_.getLong(0)).toSet
      val batch = graft.operators.TextAnalysis.qualityGopher(spark, sf).collect()
      val batchKeep = batch.filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
      val batchDrop = batch.filterNot(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
      assert(accepted == batchKeep && rejectedIds == batchDrop,
        s"gate-only accepts: ${(accepted -- batchKeep).take(3)}; " +
          s"batch-only accepts: ${(batchKeep -- accepted).take(3)}")
      assert((accepted & rejectedIds).isEmpty && accepted.nonEmpty && rejectedIds.nonEmpty)
      // every quarantined row names at least one failed rule — the blame
      rejected.collect().foreach { r =>
        assert(!(r.getAs[Boolean]("r_len") && r.getAs[Boolean]("r_wordlen") &&
          r.getAs[Boolean]("r_diversity") && r.getAs[Boolean]("r_repetition")),
          s"rejected doc ${r.getAs[Long]("doc_id")} has no failed rule")
      }
    } finally {
      q.stop()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming media ingest: binary landing zone decodes to the batch geometry") {
    val landing = java.nio.file.Files.createTempDirectory("graft-media-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-media-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-media-ckpt").toString
    def drop(id: Long, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, f"media$id%05d.bin"), bytes)
    val payloads = (0L until 6L).map(i =>
      i -> Array.tabulate((i * 37 % 100).toInt + 1)(j => (i + j).toByte)).toMap
    val q = Streams.streamMediaIngest(spark, landing, outDir, ckpt)
    try {
      // two waves: the landing-zone pattern (new files, not new contents);
      // wave 2 includes a digitless stray file — it must be quarantined,
      // not crash the query or vanish
      payloads.take(3).foreach { case (i, b) => drop(i, b) }
      q.processAllAvailable()
      payloads.drop(3).foreach { case (i, b) => drop(i, b) }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "readme.txt"), Array[Byte](1, 2, 3))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$outDir/decoded")
        .select("doc_id", "width", "height", "n_frames", "out_w", "out_h")
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got.keySet == payloads.keySet, s"ingested ${got.keySet}")
      val unnamed = spark.read.parquet(s"$outDir/unnamed")
        .select("path").collect().map(_.getString(0))
      assert(unnamed.length == 1 && unnamed(0).endsWith("readme.txt"),
        s"stray file must be quarantined by path: ${unnamed.toSeq}")
      payloads.foreach { case (id, bytes) =>
        val d = graft.operators.Multimodal.decodeStub(id, bytes)
        val m = math.max(d.width, d.height)
        assert(got(id) == ((d.width, d.height, d.n_frames,
          d.width.toLong * 224 / m, d.height.toLong * 224 / m)),
          s"doc $id: ${got(id)} != decode/geometry of ${bytes.length} bytes")
      }
    } finally {
      q.stop()
      Seq(landing, outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming decontamination gate: routes match the batch screen, rows conserved") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-decon-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-decon-ckpt").toString
    // the stream carries the TRAIN split (the docs the batch query screens)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") % 97 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val (q, benchG) = Streams.streamDecontaminate(
      in.toDF().toDF("doc_id", "text"), spark, sf, outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val contaminated = spark.read.parquet(s"$outDir/contaminated")
        .select("doc_id", "n_shared_grams")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // conservation: every arrived row lands in exactly one route
      assert((clean & contaminated.keySet).isEmpty)
      assert(clean ++ contaminated.keySet == docs.map(_._1).toSet,
        "rows vanished or doubled across the routes")
      // parity: contaminated docs + their blame counts equal the
      // oracle-checked batch query
      val batch = graft.operators.Dedup.decontaminateNgram(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(contaminated == batch,
        s"stream-only: ${(contaminated.toSet -- batch.toSet).take(3)}; " +
          s"batch-only: ${(batch.toSet -- contaminated.toSet).take(3)}")
      assert(contaminated.nonEmpty && clean.nonEmpty, "degenerate gate")
    } finally {
      q.stop(); benchG.unpersist()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming corpus diff: per-batch counts sum to the batch reconciliation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-diff-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-diff-ckpt").toString
    // the stream carries the arriving CURRENT snapshot
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String, String)]
    val (q, prev) = Streams.streamCorpusDiff(
      in.toDF().toDF("doc_id", "source", "text"), spark, sf, outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      // per-doc classification is batching-invariant: per-batch counts
      // summed over the replay, PLUS the end-of-snapshot reconciliation's
      // `removed` frame, equal the batch query's full four-status report
      // exactly (a batch witnesses presence, never absence — removal is
      // only decidable once the snapshot is drained)
      val perBatch = spark.read.parquet(s"$outDir/batch_id=*")
        .groupBy("status", "source")
        .agg(org.apache.spark.sql.functions.sum("n_docs").as("n_docs"))
      val streamed = perBatch
        .unionByName(Streams.diffCloseSnapshot(spark, prev, outDir))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = operators.DataQuality.corpusDiff(spark, sf)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream-only: ${(streamed.toSet -- batch.toSet).take(3)}; " +
          s"batch-only: ${(batch.toSet -- streamed.toSet).take(3)}")
      assert(Set("added", "changed", "unchanged", "removed")
        .subsetOf(streamed.keySet.map(_._1)), s"degenerate replay: $streamed")
    } finally {
      q.stop(); prev.unpersist()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming BPE apply: micro-batched docs replay to the batch query's rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-bpe-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bpe-ckpt").toString
    // freeze the merge table once (what bpe_apply_merges trains per run)
    val merges = graft.operators.TextAnalysis.bpePairCounts(spark, sf)
      .collect().map(_.getString(0)).toSeq
    assert(merges.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamBpeApply(
      in.toDF().toDF("doc_id", "text"), merges, outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
          Option(r.getString(4)))
      val streamed = spark.read.parquet(outDir)
        .select("doc_id", "n_tok_before", "n_tok_after", "n_merges_applied",
          "first_merged")
        .collect().map(key).toSet
      val batch = graft.operators.TextAnalysis.bpeApplyMerges(spark, sf)
        .collect().map(key).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; " +
          s"batch-only: ${(batch -- streamed).take(3)}")
    } finally {
      q.stop()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming shard router: landed shards equal the batch assignment, layout partitioned") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-shard-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shard-ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamShardRoute(
      in.toDF().toDF("doc_id", "text"), outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val landed = spark.read.parquet(outDir)
        .select("doc_id", "shard")
        .collect().map(r => r.getLong(0) -> r.getAs[Number]("shard").longValue).toMap
      val batch = graft.operators.TextAnalysis.shardAssignment(spark, sf)
        .select("doc_id", "shard")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(landed == batch,
        s"landed shards differ from the batch assignment for " +
          s"${landed.keySet.filter(k => landed(k) != batch(k)).take(3)}")
      // layout: the landing zone is physically partitioned by shard
      // inside each batch directory
      val shardDirs = new java.io.File(s"$outDir/batch_id=0").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard="))
      assert(shardDirs.nonEmpty, "expected shard= partition directories")
    } finally {
      q.stop()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming blocklist screen: replay equals batch verdicts, degenerate rows conserved") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = SparkTestSession.sf
    val outDir = java.nio.file.Files.createTempDirectory("graft-bl-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bl-ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val degenerate = Seq((910001L, ""), (910002L, null.asInstanceOf[String]))
    val chunks = docs.toSeq.grouped((docs.length + 1) / 2).toSeq :+ degenerate
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamBlocklistScreen(
      in.toDF().toDF("doc_id", "text"), outDir, ckpt)
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val flagged = spark.read.parquet(s"$outDir/flagged")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((clean & flagged).isEmpty)
      assert(clean ++ flagged ==
        docs.map(_._1).toSet ++ degenerate.map(_._1).toSet,
        "rows vanished or doubled across the two routes")
      // degenerate docs are clean (0 hits), never dropped
      degenerate.foreach { case (id, _) => assert(clean.contains(id)) }
      // replay parity: the flagged set equals the batch verdict over the
      // same fixture docs
      val batchFlagged = graft.operators.TextAnalysis
        .blocklistVerdicts(Tables.documents(spark, sf).select("doc_id", "text"))
        .filter($"flagged").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(flagged == batchFlagged,
        s"stream-only: ${(flagged -- batchFlagged).take(3)}; " +
          s"batch-only: ${(batchFlagged -- flagged).take(3)}")
    } finally {
      q.stop()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }

  test("streaming quality gate: a batch with empty/NULL text conserves rows (accepted + quarantined = arrived)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-gate0-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gate0-ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamQualityGate(
      in.toDF().toDF("doc_id", "text"), outDir, ckpt)
    try {
      // one malformed-producer batch: empty text, NULL text, one healthy doc
      in.addData(Seq(
        (900001L, ""), (900002L, null.asInstanceOf[String]),
        (900003L, ("the project builds a stream engine " * 10).trim)))
      q.processAllAvailable()
      val accepted = spark.read.parquet(s"$outDir/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val rejected = spark.read.parquet(s"$outDir/rejected")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((accepted & rejected).isEmpty)
      assert(accepted ++ rejected == Set(900001L, 900002L, 900003L),
        s"rows vanished or doubled: accepted=$accepted rejected=$rejected")
      assert(rejected.contains(900001L) && rejected.contains(900002L),
        "degenerate docs must land in quarantine, not disappear")
    } finally {
      q.stop()
      Seq(outDir, ckpt).foreach(SparkTestSession.deleteRecursively)
    }
  }
}
