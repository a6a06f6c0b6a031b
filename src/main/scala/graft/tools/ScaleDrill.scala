package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-slope drill at sf1 (VERDICT r10 item 3): measures the wall-time
  * growth of the most expensive operator families between sf0.1 and a
  * locally generated ×10 corpus (≈ sf1 — 500k documents, 100k embeddings,
  * 1M events), turning the "the plan shape survives 100×" claims into
  * measured exponents.
  *
  * Fixture: the CONTROLLED construction of `ScalingSlopeSpec`, at ×10 —
  * each copy k rewrites every token with a copy-distinct suffix
  * (disjoint vocabulary per copy ⇒ the true near-dup structure per copy
  * is exactly the base corpus's, so total true-pair mass grows ×10
  * linearly and measured slopes isolate the ALGORITHM, not the corpus's
  * own duplicate growth); embeddings are circularly shifted per copy
  * (within-copy cosine geometry preserved exactly, cross-copy
  * decorrelated); events replicate with per-copy user/event id offsets
  * (per-user series length constant — the as-of merge's sort runs are
  * 10× as many, not 10× as long).
  *
  * Measurement: per family, one warm-up run then min-of-3 at each scale,
  * exponent = log(t_big/t_base) / log(r). Scan-bound and banded families
  * target exponent ≈ 1 (the generous ceiling asserted here is 1.35 to
  * absorb constant-factor noise at the small end); anything ≈ 2 is a
  * plan that bends quadratic and must be fixed, not documented.
  *
  * A tool main, not a ScalaTest: the drill costs minutes and belongs in
  * PLANS.md evidence, not in every `sbt test` loop.
  */
object ScaleDrill {
  import Harness.{hygiene, num, time}

  /** Committed per-family scale floors (`slope_floors.json`) — the
    * scale-dimension twin of `bench_floors.json` (VERDICT r11 item 3):
    * bench floors gate per-query TIME at sf0.1; nothing gated behavior
    * AT SCALE, so a plan rewrite that kept the sf0.1 constant but bent a
    * family quadratic would pass every gate until someone re-read the
    * drill table.
    *
    * What the gate compares is the ×N-END TIME (`t_big`, min-ratcheted
    * like bench floors — lower is unambiguously better) plus an absolute
    * exponent ceiling, NOT an exponent floor: a raw-exponent ratchet is
    * ill-posed because a constant-factor improvement at the BASE scale
    * raises the measured exponent while making every absolute number
    * better (the conditional-repartition fingerprint fix measured
    * exponent 0.40 over the old plan's −0.04 precisely because its base
    * got 2× faster at an equal t_big — a "regression" no user ever
    * experiences). A genuine quadratic bend cannot hide from this pair:
    * it either blows past [[SlopeBigFactor]] × the committed t_big or
    * crosses [[SlopeCeiling]]. Measured exponents are still recorded in
    * the file and artifact for the round record. Floors are keyed by
    * the copies factor: an ×10 t_big must never gate an ×3 run.
    * `SPARK_GRAFT_UPDATE_SLOPES=1` rewrites each family with the run of
    * min(t_big) — ratchet down, never up. */
  /** Gate factor history. The original 4.0 was calibrated against
    * MEASURED same-binary variance with NO noise instrument: a round-12
    * investigation re-ran `dedup_ngram_jaccard` on one fixed ×10 corpus
    * with unchanged code and got t_big ∈ {5.6, 9.3, 18.4, 20.8, 28.1,
    * 43.8} across SINGLE runs — runtime-adaptive (AQE join-strategy flips
    * + allocation pressure), bimodal around ~3× — so the factor carried
    * the whole host-band burden and had to sit above the noise. The cost
    * of that looseness was proven in round 16: a real ~1.9× ×100
    * regression (the CellArgmax `ArrayData.getFloat` dot loop) sat under
    * the 4× gate for a full round and was found only by a hand bisection
    * (VERDICT r16 item 3). Round 17 ports the bench gate's discipline:
    * a pinned cheap probe family ([[ProbeFamily]]) is re-measured
    * (min-of-3) between every pair of family legs, each family's t_big is
    * corrected by its bracket's drift over the probe's committed floor
    * (capped at [[SlopeNoiseCap]], and the probe itself is gated
    * UNCORRECTED at [[ProbeFactor]] — the two bench-gate defenses against
    * an engine-wide slowdown laundering itself), and the red factor drops
    * to [[SlopeBigFactor]] = 1.8: above the r16-measured ~15% host band
    * (floors are min-ever records; same-binary re-runs sat ~1.15× above
    * them across families) with min-of-3 sampling absorbing run-to-run
    * blips, and BELOW the 1.9× regression class the 4× gate missed.
    * Families with DOCUMENTED multi-modal runtime-adaptive plans
    * ([[BimodalFamilies]]) keep the legacy 4.0 — the r16 drill measured
    * `dedup_clusters` at 2.02× its floor on a healthy binary (iterative
    * pointer-jumping, the r12 AQE band) and a 1.8 factor would turn that
    * healthy bimodality red every other round. A corrected ratio above
    * [[SlopeWarnFactor]] that stays under red is emitted as
    * `slope_warnings` — the advisory tier that would have named
    * CellArgmax a round earlier even under the old factor. */
  private[graft] val SlopeBigFactor = 1.8
  private[graft] val SlopeBigFactorBimodal = 4.0
  private[graft] val SlopeWarnFactor = 1.4
  private[graft] val SlopeNoiseCap = 2.5
  private[graft] val ProbeFactor = 2.0
  private val SlopeCeiling = 1.35

  /** Families whose healthy min-of-3 drill times are measured multi-modal
    * (AQE strategy flips on iterative/self-joining plans), gated at the
    * legacy [[SlopeBigFactorBimodal]]: `dedup_clusters` measured 2.02×
    * its committed floor on a healthy, idle-host r16 drill (PLANS.md
    * round-16 ×100 section). Membership requires a written PLANS.md
    * adjudication, not a hunch. */
  private[graft] val BimodalFamilies = Set("dedup_clusters")

  /** The pinned drill probe — `dedup_exact`: cheap (sub-second at every
    * drilled decade), code unchanged round to round, and it exercises
    * scan + hash-aggregate + one small shuffle, the subsystems host drift
    * hits. ONE probe (vs the bench gate's two) because drill legs run
    * minutes, so the bracket resolution is coarse regardless — the probe
    * adjudicates sustained load, not per-second spikes. Its committed
    * floor is its own family row in the slopes file (it IS a drillable
    * family), measured at the big fixture like every bracket sample. */
  private[graft] val ProbeFamily = "dedup_exact"

  private def slopesPath: String =
    sys.env.getOrElse("SPARK_GRAFT_SLOPES", "slope_floors.json")

  private[graft] val SlopeFloors = Harness.FloorsFile(("t_big", "exponent"))

  /** The drill regression gate, pure for the spec's sake (the bench
    * [[graft.Bench.gate]] pattern): given per-family results, committed
    * floors, and the interleaved probe samples (`probeSamples.length =
    * rows.length + 1`; points i and i+1 bracket family i; -1 = missing),
    * returns (per-family noise corrections, probe_regression, red
    * regression JSON fragments, warn-tier family names).
    *
    * Adversarial properties (ScaleGateSpec pins them):
    *   - each family's t_big is divided by its bracket's drift over the
    *     probe floor (min of the two adjacent samples — the conservative
    *     side), clamped to [1, [[SlopeNoiseCap]]]: a uniform host
    *     slowdown corrects itself away instead of flagging every family;
    *   - the probe is judged UNCORRECTED against its own floor on the
    *     second-smallest sample ([[ProbeFactor]]) — an engine-wide
    *     slowdown cannot divide itself under the gate, and one lucky
    *     window cannot clear a sustained one;
    *   - a planted ~2× single-family regression on a quiet host exceeds
    *     [[SlopeBigFactor]] and turns red (the CellArgmax class the old
    *     4× factor missed);
    *   - [[BimodalFamilies]] keep the legacy factor; the warn tier still
    *     names them when they run hot;
    *   - floorless families are never flagged (fresh seeds gate next
    *     round);
    *   - failed families (t_big < 0, the fault-isolated chain) are never
    *     flagged by the time gate — they surface in `failed`. */
  private[graft] def gate(rows: Seq[(String, Double, Double)],
      floors: Map[String, (Double, Double)],
      probeSamples: IndexedSeq[Double])
      : (Seq[Double], Boolean, Seq[String], Seq[String]) = {
    val probeFloor = floors.get(ProbeFamily).map(_._1).filter(_ > 0)
    val corrections = rows.indices.map { i =>
      probeFloor match {
        case Some(pf) =>
          val bracket = Seq(
            probeSamples.lift(i).getOrElse(-1.0),
            probeSamples.lift(i + 1).getOrElse(-1.0)).filter(_ > 0)
          if (bracket.nonEmpty)
            math.min(SlopeNoiseCap, math.max(1.0, bracket.min / pf))
          else 1.0
        case None => 1.0
      }
    }
    val probeRegression = probeFloor.exists { pf =>
      val valid = probeSamples.filter(_ > 0).sorted
      val stat = if (valid.size >= 2) valid(1)
                 else if (valid.size == 1) valid.head else -1.0
      stat > ProbeFactor * pf
    }
    val verdicts = rows.zip(corrections).flatMap {
      case ((name, tBig, expo), corr) =>
        floors.get(name) match {
          case Some((fb, _)) if tBig >= 0 && fb > 0 =>
            // the probe never corrects itself
            val adj = if (name == ProbeFamily) tBig else tBig / corr
            Some((name, tBig, adj, fb, expo))
          case _ => None
        }
    }
    val red = verdicts.collect {
      case (name, tBig, adj, fb, expo)
          if adj > (if (BimodalFamilies(name)) SlopeBigFactorBimodal
                    else SlopeBigFactor) * fb =>
        s"""{"family":"$name","t_big":${num(tBig)},"adjusted":${num(adj)},"floor_t_big":${num(fb)},"exponent":${num(expo)}}"""
    }
    val warn = verdicts.collect {
      case (name, _, adj, fb, _)
          if adj > SlopeWarnFactor * fb &&
            adj <= (if (BimodalFamilies(name)) SlopeBigFactorBimodal
                    else SlopeBigFactor) * fb =>
        name
    }
    (corrections, probeRegression, red, warn)
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = Harness.session()
    // SPARK_GRAFT_DRILL_FIXTURE reuses a pre-generated ×copies corpus
    // (persisted by a prior `SfGen <base> <copies> <dir>` run) so iterative
    // single-family drills and the round-closing oracle sweep share one
    // generation instead of paying it per invocation. The caller owns the
    // fixture's lifetime (no shutdown-hook delete on the reused path).
    val big = sys.env.get("SPARK_GRAFT_DRILL_FIXTURE") match {
      case Some(dir) if new java.io.File(dir).isDirectory =>
        println(s"[drill] reusing fixture at $dir (caller asserts x$copies of $base)")
        dir
      case _ =>
        val dir = graft.operators.Scratch.tempParent(s"graft-sfx$copies").toString
        println(s"[drill] generating x$copies fixture at $dir ...")
        // full-table generation (SfGen) so part-keyed families can drill
        // too; documents/embeddings/events use the identical construction
        // the original drill-local upsample had
        val (genT, _) = time(SfGen.upsampleAll(spark, base, copies, dir))
        println(f"[drill] generated in $genT%.1f s")
        dir
    }

    // Order is a SPILL-SAFETY contract (VERDICT r16 item 2): the
    // exact-verify lexical pair (`dedup_ngram_jaccard`,
    // `dedup_containment`) is shuffle-spill-bound at the far decade —
    // jaccard's first ×1000 attempt, run MID-chain, exhausted the host's
    // 60 GB of scratch and killed the JVM, taking every subsequent
    // family's run with it (PLANS.md round-16). Spill-heavy families run
    // LAST, heaviest last of all, so a disk death costs only its own row.
    val defaults = Seq("text_fingerprint", "asof_join_native",
      "ann_index_drift", "ann_retrain_report", "lm_perplexity",
      "edit_screen", "dedup_minhash_lsh", "dedup_winnow",
      "quality_classifier", "dedup_clusters", "ann_grow_serve",
      "text_edit_distance", "semdedup_prune",
      "dedup_containment", "dedup_ngram_jaccard")
    val all = graft.SparkEntry.queries
    val chosen = if (args.length > 2) args(2).split(",").toSeq else defaults
    val families: Seq[(String, (SparkSession, String) => DataFrame)] =
      chosen.map(n => n -> all(n))
    val probeFn = all(ProbeFamily)

    // min-of-3 probe point at the BIG fixture — the scale the gate's
    // floors are committed at. Run after hygiene so it measures the host,
    // not the previous family's leftover block pressure.
    def probePoint(): Double = {
      val reps = Seq.fill(3) {
        try time(probeFn(spark, big).count())._1
        catch { case _: Throwable => -1.0 }
      }.filter(_ >= 0)
      if (reps.nonEmpty) reps.min else -1.0
    }

    println(f"[drill] ${"family"}%-22s ${"t_base"}%9s ${"t_x" + copies}%9s ${"ratio"}%7s ${"exponent"}%8s rows")
    hygiene(spark)
    probeFn(spark, big).count() // probe warm-up (codegen, footer reads)
    val probePoints = IndexedSeq.newBuilder[Double]
    probePoints += probePoint()
    val failed = Seq.newBuilder[String]
    val rows = families.map { case (name, fn) =>
      hygiene(spark)
      // fault isolation (VERDICT r16 item 2): one family's failure —
      // OOM-as-exception, a bad plan, a missing column on an exotic
      // fixture — records t = -1 and the CHAIN CONTINUES; only a hard JVM
      // death (disk exhaustion) still truncates the run, which is why the
      // spill-heavy families are ordered last.
      val r = try {
        fn(spark, base).count() // warm-up: codegen + JIT at base scale
        val tb = Seq.fill(3)(time(fn(spark, base).count())).minBy(_._1)
        fn(spark, big).count() // warm-up at big scale (pays any cached builds)
        val tx = Seq.fill(3)(time(fn(spark, big).count())).minBy(_._1)
        val ratio = tx._1 / tb._1
        val expo = math.log(ratio) / math.log(copies.toDouble)
        println(f"[drill] $name%-22s ${tb._1}%8.2fs ${tx._1}%8.2fs $ratio%7.2f $expo%8.2f ${tb._2}->${tx._2}")
        (name, tb._1, tx._1, ratio, expo)
      } catch { case e: Throwable =>
        System.err.println(s"[drill] family $name FAILED: $e")
        failed += name
        (name, -1.0, -1.0, -1.0, -1.0)
      }
      hygiene(spark)
      probePoints += probePoint()
      r
    }
    val probeSamples = probePoints.result()
    val ok = rows.filter(_._2 >= 0)
    val worst = if (ok.nonEmpty) ok.maxBy(_._5) else ("none", 0.0, 0.0, 0.0, 0.0)
    println(f"[drill] worst exponent: ${worst._1} ${worst._5}%.2f")
    println(s"[drill] probe ($ProbeFamily) samples: ${probeSamples.map(num).mkString(", ")}")
    // ---- scale regression gate vs committed x-N-end time floors ----
    val floors = SlopeFloors.read(slopesPath, copies)
    val (corrections, probeRegression, red, warn) =
      gate(rows.map(r => (r._1, r._3, r._5)), floors, probeSamples)
    val ceilHits = rows.collect {
      case (name, _, _, _, expo) if expo > SlopeCeiling =>
        s"""{"family":"$name","exponent":${num(expo)},"ceiling":$SlopeCeiling}"""
    }
    val regressions = red ++ ceilHits
    if (sys.env.get("SPARK_GRAFT_UPDATE_SLOPES").contains("1") && args.length <= 2) {
      // never merge a subset run's numbers over the committed defaults,
      // and never mix copies factors (SlopeFloors.read already refused those).
      // The probe's best bracket sample ratchets its own family row (its
      // committed t_big IS the probe floor), keeping the instrument
      // calibrated on the same idle-host runs that set every other floor.
      val probeCand = probeSamples.filter(_ > 0) match {
        case ps if ps.nonEmpty =>
          Seq(ProbeFamily -> ((ps.min,
            floors.get(ProbeFamily).map(_._2).getOrElse(0.0))))
        case _ => Nil
      }
      val cands = rows.filter(_._3 >= 0).map(r => r._1 -> ((r._3, r._5))) ++ probeCand
      val merged = (floors.keySet ++ cands.map(_._1)).flatMap { k =>
        (floors.get(k).toSeq ++ cands.filter(_._1 == k).map(_._2)) match {
          case Nil => None
          case cs => Some(k -> cs.minBy(_._1)) // run with the best t_big wins
        }
      }.toMap
      SlopeFloors.write(slopesPath, copies, merged)
      System.err.println(s"[drill] slope floors updated at $slopesPath (${merged.size} families)")
    }
    val expJson = rows.sortBy(_._1)
      .map { case (n, _, _, _, e) => s""""$n":${num(e)}""" }.mkString("{", ",", "}")
    val warnJson = warn.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.result().map("\"" + _ + "\"").mkString("[", ",", "]")
    val probeJson = probeSamples.map(num).mkString("[", ",", "]")
    val corrJson = corrections.map(num).mkString("[", ",", "]")
    println(s"""{"metric":"scale_drill","copies":$copies,"exponents":$expJson,"worst":"${worst._1}","worst_exponent":${num(worst._5)},"probe_family":"$ProbeFamily","probe_samples":$probeJson,"corrections":$corrJson,"probe_regression":$probeRegression,"slope_warnings":$warnJson,"failed":$failedJson,"slope_regressions":[${regressions.mkString(",")}]}""")
    spark.stop() // Scratch's shutdown hook removes the generated fixture
  }
}
