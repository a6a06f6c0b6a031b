package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The semdedup cap-knee drill (VERDICT r16 item 1): measures
  * `semdedup_prune` (and optionally the index build + serve path) at a
  * ladder of [[VecGen]] corpus sizes chosen to BRACKET the IVF cell cap's
  * knee at n = cap²/2, and reports the LOCAL exponent between consecutive
  * rungs — the number the claim is about. Below the knee k = √(2n) and
  * the n·k assignment term grows as n^1.5; past it k pins at the cap and
  * assignment goes linear while mean cell occupancy resumes growing ∝
  * n/cap.
  *
  * What the first (pre-fix) run of this drill actually measured — and
  * the arithmetic it corrected: the original prediction here said the
  * within-cell pair term (n²/2·cap CANDIDATES) stays ~5% of the total at
  * 1–2× the knee and the past-knee exponent drops toward 1. WRONG twice
  * over: candidate mass is priced per ROW through the pair join, not per
  * dot-product (the CellArgmax lesson), so the quadratic term's constant
  * is large — measured past-knee local exponents marched 1.35 (m = 2) →
  * 1.68 (m = 4) → 1.85 (m = 8) on the cap-1024 ladder, heading to 2, not
  * 1. The fix is the [[Similarity.subSplitPlan]] residual sub-split
  * (occupancy pinned back to ~cap by splitting hot cells), after which
  * the past-knee prediction really is exponent ≈ 1; this drill's
  * AFTER-ladder verifies exactly that, and the serve leg verifies the
  * serve path stays arrival-bound (flat) across every rung regardless.
  *
  * Run it twice:
  *   - `SPARK_GRAFT_IVF_MAX_CELLS=1024` with rungs around 524k — the
  *     SAME code path with the knee moved into cheap territory; the full
  *     two-regime shape in minutes;
  *   - the production cap 4096 with rungs straddling 8.4M — the honest
  *     full-price measurement the r16 verdict asked for.
  *
  * Timing: one warm-up pays k-means training (codebook-cached thereafter,
  * like every ScaleDrill family), then min-of-2 warm runs — the heavy
  * assignment + within-cell passes run fully in every timed run. Rungs
  * this size cost minutes-to-tens-of-minutes each, so min-of-2, not 3.
  * Corpus dirs persist under the root (reused if present) — re-runs and
  * cap A/Bs share generation.
  *
  * Usage: runMain graft.tools.KneeDrill <rungsCsv> [root] [prune,serve]
  */
object KneeDrill {
  import Harness.{hygiene, num, time}

  def main(args: Array[String]): Unit = {
    val rungs = args(0).split(",").map(_.trim.toLong).toSeq.sorted
    val root = if (args.length > 1) args(1) else "/tmp/fx/knee"
    val legs = (if (args.length > 2) args(2).split(",").toSeq
      else Seq("prune")).toSet
    val spark = Harness.session()
    val cap = Similarity.IvfMaxCells
    val knee = cap.toLong * cap / 2
    println(s"[knee] cap=$cap knee=n=${knee} rungs=${rungs.mkString(",")} legs=${legs.mkString(",")}")

    val rows = rungs.map { n =>
      val dir = s"$root/n$n"
      if (!new java.io.File(s"$dir/embeddings.parquet").isDirectory) {
        val (tGen, _) = time(VecGen.write(spark, n, dir))
        println(f"[knee] generated n=$n in $tGen%.1f s")
      } else println(s"[knee] reusing $dir")
      val k = Similarity.ivfCells(n)
      hygiene(spark)
      val tPrune = if (legs("prune")) {
        val fn = Similarity.queries("semdedup_prune")
        // SPARK_GRAFT_KNEE_WARM=train: warm ONLY the k-means codebook
        // (via the shared [[Similarity.semdedupCodebook]] key path) instead
        // of a full prune pass. At the full-cap rungs past 8.4M a whole
        // prune costs ~an hour; its only warm-up value beyond training is
        // JIT warmth worth a few seconds — <1% of a timed run at that
        // duration. Default stays the full-prune warm-up (the cap-1024
        // ladder's methodology).
        if (sys.env.get("SPARK_GRAFT_KNEE_WARM").contains("train"))
          Similarity.semdedupCodebook(spark, dir)
        else fn(spark, dir).count() // warm-up: pays k-means training once
        // SPARK_GRAFT_KNEE_REPS: timed-run count after the warm-up
        // (default min-of-2). The full-cap rungs past 8.4M cost tens of
        // minutes per run — there a single timed run is the honest trade
        // (variance is proportionally small at that duration, and both
        // rungs of a local exponent use the identical methodology).
        val reps = sys.env.get("SPARK_GRAFT_KNEE_REPS")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
          .filter(_ > 0).getOrElse(2)
        val t = Seq.fill(reps)(time(fn(spark, dir).count())).map(_._1).min
        println(f"[knee] n=$n%-9d k=$k%5d  prune $t%9.2f s")
        t
      } else -1.0
      val (tBuild, tServe) = if (legs("serve")) {
        hygiene(spark)
        val idx = graft.operators.Scratch.tempParent(s"graft-knee-$n").toString
        val (tb, _) = time(Similarity.writeSemdedupIndex(spark, dir, idx))
        graft.functions.VecFunctions.register(spark)
        val probes = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % 100 === 0)
        def serve(): Long =
          Similarity.semdedupScreenFromModel(spark, idx, probes).count()
        serve() // warm-up
        val ts = Seq.fill(3)(time(serve())).map(_._1).min
        println(f"[knee] n=$n%-9d k=$k%5d  build $tb%9.2f s  serve $ts%9.2f s")
        (tb, ts)
      } else (-1.0, -1.0)
      (n, k, tPrune, tBuild, tServe)
    }

    // local exponents between consecutive rungs, per timed leg
    def expos(f: ((Long, Int, Double, Double, Double)) => Double): Seq[String] =
      rows.sliding(2).collect {
        case Seq(a, b) if f(a) > 0 && f(b) > 0 =>
          val e = math.log(f(b) / f(a)) / math.log(b._1.toDouble / a._1.toDouble)
          s""""${a._1}->${b._1}":${num(e)}"""
      }.toSeq
    val rungJson = rows.map { case (n, k, tp, tb, ts) =>
      s""""$n":{"k":$k,"t_prune":${num(tp)},"t_build":${num(tb)},"t_serve":${num(ts)}}"""
    }.mkString(",")
    println(s"""{"metric":"knee_drill","cap":$cap,"knee_n":$knee,"rungs":{$rungJson},"prune_local_exponents":{${expos(_._3).mkString(",")}},"serve_local_exponents":{${expos(_._5).mkString(",")}}}""")
    spark.stop()
  }
}
