package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streams

/** Sustained-load state drill for the stateful streaming operators
  * (VERDICT r10 item 4; horizon extended to 1000 batches with a churn
  * multiplier per VERDICT r11 item 4 — RocksDB compaction behavior and
  * SST growth are invisible at 100 batches): drives the funnel,
  * stream-stream as-of, and bounded top-k processors for O(100)–O(1000)
  * micro-batches on the RocksDB state store and records the per-batch
  * state-row count, trigger latency, AND the store's SST footprint — the
  * curves that distinguish a bounded-state design from one that merely
  * passes a 3-batch spec. A logical leak shows as a monotone
  * numRowsTotal ramp; a PHYSICAL leak (tombstones never compacted,
  * snapshot accumulation) shows as SST bytes climbing over a flat row
  * count. Bounded designs plateau on both.
  *
  * Load shape: every batch introduces a fresh key cohort (funnel/as-of)
  * with event time advancing a fixed step per batch, so the event-time
  * watermark must both admit new state and expire cohorts older than the
  * horizon — the steady-state churn of a real ingest. Top-k keeps a
  * fixed key population (its state bound is per-key by construction —
  * k + slack entries — so the drill's question is whether per-key state
  * creeps with update count).
  *
  * A tool main, not a ScalaTest: minutes of wall time; the evidence
  * lands in PLANS.md and any ramp found becomes a spec.
  */
object StateDrill {
  private final case class Sample(batch: Int, stateRows: Long,
      triggerMs: Long, sstBytes: Long)

  private final case class Curve(name: String, samples: Seq[Sample]) {
    def report(): Boolean = {
      samples.grouped(math.max(1, samples.size / 12)).foreach { g =>
        val s = g.last
        println(f"[state] $name%-14s batch=${s.batch}%4d state_rows=${s.stateRows}%7d " +
          f"trigger_ms=${s.triggerMs}%6d sst_kb=${s.sstBytes / 1024}%8d")
      }
      // guard tiny smoke runs (batches <= 2): fall back to the full series
      // rather than crash on an empty slice after the run already paid
      def nonEmptyOrAll(s: Seq[Sample]) = if (s.nonEmpty) s else samples
      val tail = nonEmptyOrAll(samples.drop(samples.size / 2))
      val head = nonEmptyOrAll(samples.slice(samples.size / 6, samples.size / 2))
      val headMax = head.map(_.stateRows).max
      val tailMax = tail.map(_.stateRows).max
      // bounded = the steady-state half never exceeds the warm-up phase's
      // peak by more than 25% (plateau, not ramp)
      val flat = tailMax <= (headMax * 1.25).toLong + 4
      // physical plateau: SST bytes in the steady half must stay within
      // 1.6x of the warm-up peak (+64 KiB absolute slack) — compaction is
      // bursty, so the bound is looser than the row-count gate, but a
      // store that doubles over a flat row count is a tombstone leak.
      // Metric may be absent (-1) on providers without it: skip then.
      val headSst = head.map(_.sstBytes).max
      val tailSst = tail.map(_.sstBytes).max
      val sstFlat = headSst < 0 || tailSst < 0 ||
        tailSst <= (headSst * 1.6).toLong + 65536L
      val msTail = tail.map(_.triggerMs)
      println(f"[state] $name%-14s head_max=$headMax tail_max=$tailMax " +
        f"flat=$flat sst_head=${headSst / 1024}%dkB sst_tail=${tailSst / 1024}%dkB " +
        f"sst_flat=$sstFlat trigger_ms(median tail)=${msTail.sorted.apply(msTail.size / 2)}")
      flat && sstFlat
    }
  }

  private def sample(q: StreamingQuery, b: Int): Sample = {
    // lastProgress is null before the first progress event, and the
    // durationMs map may lack triggerExecution — record -1 instead of
    // NPE-ing a drill that has been running for minutes (ADVICE r11)
    val p = q.lastProgress
    if (p == null) Sample(b, -1L, -1L, -1L)
    else {
      val (rows, sst) =
        if (p.stateOperators.nonEmpty) {
          val so = p.stateOperators(0)
          val cm = so.customMetrics
          (so.numRowsTotal,
            if (cm != null && cm.containsKey("rocksdbSstFileSize"))
              cm.get("rocksdbSstFileSize").longValue() else -1L)
        } else (-1L, -1L)
      Sample(b, rows,
        p.durationMs.getOrDefault("triggerExecution", -1L).longValue(), sst)
    }
  }

  def main(args: Array[String]): Unit = {
    val batches = if (args.length > 0) args(0).toInt else 100
    // key-churn multiplier: scales every per-batch fresh-key cohort, so a
    // 1000-batch x3 run pushes ~10x the distinct-key traffic of the
    // original 100-batch drill through each store
    val churn = if (args.length > 1) args(1).toInt else 1
    val spark = Harness.session("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val scratch = graft.operators.Scratch.tempParent("graft-state-drill")

    // ---- funnel: 40 fresh users per batch, 3 events each, 10 s event-time
    // step, 30 s horizon. With idle retention (the production config) the
    // summary rows expire with their cohort → plateau; without it the
    // per-user summaries accumulate forever (the exact-batch-parity cost,
    // reported for the record but not gated on)
    def funnelLeg(name: String, retentionMs: Long, gate: Boolean) = {
      val in = MemoryStream[(Long, String, Long)]
      val q = Streams.streamingFunnel(in.toDS(), horizon = "30 seconds",
          idleRetentionMs = retentionMs)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/$name").start()
      val samples = (0 until batches).map { b =>
        val t0 = b * 10000000L // 10 s per batch, in µs
        in.addData((0 until 40 * churn).flatMap { i =>
          val uid = b * 1000L + i
          Seq((uid, "view", t0 + i), (uid, "click", t0 + 100 + i),
            (uid, "purchase", t0 + 200 + i))
        })
        q.processAllAvailable()
        sample(q, b)
      }
      q.stop()
      (Curve(name, samples), gate)
    }


    // ---- stream-stream as-of: 30 fresh keys per batch, one right + one
    // probe each, 10 s step, 20 s horizon, 1 s watermark delay
    def asofLeg() = {
      val in = MemoryStream[(Long, String, Long, Long)]
      val q = Streams.streamAsofJoin(in.toDS(), horizonS = 20L)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/asof").start()
      val samples = (0 until batches).map { b =>
        val t0 = b * 10L // 10 s per batch, in s
        in.addData((0 until 30 * churn).flatMap { i =>
          val uid = b * 1000L + i
          Seq((uid, "R", 0L, t0 + 1), (uid, "L", b * 100L + i, t0 + 2))
        })
        q.processAllAvailable()
        sample(q, b)
      }
      q.stop()
      Curve("asof", samples)
    }

    // ---- late panes: windowed delta panes over churning (user, window)
    // keys — state is GC'd when the watermark passes the window end, so
    // rows must plateau at ~the horizon's worth of open windows
    def panesLeg() = {
      val in = MemoryStream[Streams.Msg]
      val q = Streams.latePanes(in.toDS())
        .writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/panes").start()
      val samples = (0 until batches).map { b =>
        val t0 = 1704100000000L + b * 60000L // 1 min of event time per batch
        in.addData((0 until 30 * churn).map { i =>
          Streams.Msg(new java.sql.Timestamp(t0 + i * 1000L), b * 100 + i)
        })
        q.processAllAvailable()
        sample(q, b)
      }
      q.stop()
      Curve("late_panes", samples)
    }

    // ---- watermark dedup (3.5+ id-only-key API): fresh ids per batch,
    // duplicates within the batch — state must drain behind the watermark
    def dedupLeg() = {
      val in = MemoryStream[(Long, Long)]
      val deduped = Streams.streamingDedupWithinWatermark(
        in.toDF().toDF("id", "es")
          .withColumn("event_time",
            org.apache.spark.sql.functions.timestamp_seconds(
              org.apache.spark.sql.functions.col("es"))),
        "event_time", "30 seconds", Seq("id"))
      val q = deduped.writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/dedup").start()
      val samples = (0 until batches).map { b =>
        val t0 = b * 10L
        in.addData((0 until 40 * churn).flatMap { i =>
          val id = b * 1000L + i
          Seq((id, t0), (id, t0 + 1)) // a redelivery per id
        })
        q.processAllAvailable()
        sample(q, b)
      }
      q.stop()
      Curve("wm_dedup", samples)
    }

    // ---- top-k: fixed 8-key population, 50 updates per key per batch —
    // per-key state must stay ≤ k + slack entries forever
    def topkLeg() = {
      val in = MemoryStream[(String, Int)]
      val q = Streams.streamingTopK(in.toDS(), k = 5)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$scratch/topk").start()
      val samples = (0 until batches).map { b =>
        in.addData(for {
          key <- 0 until 8; i <- 0 until 50
        } yield (s"key$key", b * 50 + i))
        q.processAllAvailable()
        sample(q, b)
      }
      q.stop()
      Curve("topk", samples)
    }

    // leg filter (args(2) = comma list) so long-horizon runs can split
    // into separately scheduled chunks; default = all six legs
    val legs: Seq[(String, () => (Curve, Boolean))] = Seq(
      "funnel" -> (() => funnelLeg("funnel", retentionMs = 60000L, gate = true)),
      "funnel_nottl" -> (() => funnelLeg("funnel_nottl", Long.MaxValue, gate = false)),
      "asof" -> (() => (asofLeg(), true)),
      "late_panes" -> (() => (panesLeg(), true)),
      "wm_dedup" -> (() => (dedupLeg(), true)),
      "topk" -> (() => (topkLeg(), true)))
    val chosen: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet
      else legs.map(_._1).toSet
    val verdicts = legs.filter(l => chosen(l._1)).map { case (_, thunk) =>
      val (c, gate) = thunk()
      val flat = c.report(); !gate || flat
    }
    println(s"[state] ALL_FLAT=${verdicts.forall(identity)}")
    spark.stop()
  }
}
