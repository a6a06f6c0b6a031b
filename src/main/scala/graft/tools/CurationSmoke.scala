package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable
import graft.operators.{Dedup, Packing, Scoring, Similarity, TextAnalysis}

/** End-to-end batch curation smoke run — the composed pipeline a
  * pretraining-data user actually operates, driven through the SAME
  * operators the oracle-checked queries use, with each stage writing a
  * derived corpus the next stage reads (the checkpoint-between-stages
  * shape of a real 100 TB curation run, where every stage boundary is a
  * restart point):
  *
  *   raw corpus → blocklist screen (blocked-term-dense docs quarantined
  *   first, before any scoring spends work on them) →
  *   Gopher quality gate → DSIR selection (served from a
  *   model trained ONCE on the raw corpus — the train-offline/
  *   serve-online discipline, not a per-stage retrain) →
  *   distilled-classifier audit (the trained student must agree with the
  *   teacher gate on its own survivors) → exact dedup (fingerprint
  *   keep-first) → semantic dedup (SemDeDup embedding-space prune) →
  *   benchmark decontamination (n-gram screen vs the raw corpus's
  *   held-out split, run AFTER dedup where the corpus is smallest) →
  *   leakage-safe cluster split audit → sequence packing.
  *
  * Each stage's invariant is checked (monotone funnel, selection
  * conservation kept + dropped = arrived, survivor =
  * distinct-fingerprint count, decontamination conservation
  * clean + flagged = arrived, split conservation, token conservation
  * through packing); one PASS/FAIL line per stage, non-zero exit on any
  * failure — the [[StreamingSmoke]] contract for the batch side.
  *
  * Usage: runMain graft.tools.CurationSmoke [sfDir]   (default sf0.001)
  */
object CurationSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val base = graft.operators.Scratch.tempParent("graft-curation-").toString
    val spark = Harness.session()

    val check = new Harness.Checks("curation")
    def nDocs(dir: String): Long = Tables.documents(spark, dir).count()
    def nTokens(dir: String): Long = Tables.documents(spark, dir)
      .agg(sum(size(Portable.tokens(col("text"))))).collect()(0).getLong(0)

    try {
      val n0 = nDocs(sfDir)

      // stage 0 — blocklist screen: blocked-term-dense docs (≥ 800 bp)
      // quarantined before any scoring spends work on them — the same
      // total verdict the streaming screen routes on, so clean + flagged
      // must equal arrived.
      val s0 = s"$base/s0"
      val bl = TextAnalysis.blocklistVerdicts(Tables.documents(spark, sfDir))
        .localCheckpoint() // read by both routes and the count
      val nBlFlagged = bl.filter(col("flagged")).count()
      bl.filter(!col("flagged")).drop("n", "hits", "hit_bp", "flagged")
        .write.parquet(s"$s0/documents.parquet")
      val nS0 = nDocs(s0)
      check("blocklist_screen",
        nS0 + nBlFlagged == n0 && nS0 > 0 && nBlFlagged > 0,
        s"docs $n0 -> $nS0 (flagged $nBlFlagged + clean $nS0 = arrived $n0)")

      // stage 1 — Gopher quality gate: keep only docs passing all rules
      val s1 = s"$base/s1"
      val kept = TextAnalysis.qualityGopher(spark, s0)
        .filter(col("keep")).select("doc_id")
      Tables.documents(spark, s0).join(kept, "doc_id")
        .write.parquet(s"$s1/documents.parquet")
      val n1 = nDocs(s1)
      check("quality_gate", n1 > 0 && n1 < nS0,
        s"docs $nS0 -> $n1, tokens ${nTokens(s0)} -> ${nTokens(s1)}")

      // stage 1b — DSIR selection: score the gate's survivors against the
      // ratio model trained ONCE on the raw corpus, keep the more
      // target-like half (median split on the served log importance
      // weight — the importance-resampling shape; the model's absolute
      // keep verdict is the oracle-checked query's contract, while the
      // retention fraction is a per-run policy knob). Serving reads ONLY
      // the model parquet + the stage-1 survivors — the raw corpus is
      // never rescanned (train-offline/serve-online). The threshold is a
      // single driver scalar from one percentile aggregate.
      val modelDir = s"$base/dsir_model"
      Scoring.writeDsirModel(spark, sfDir, modelDir)
      val s1b = s"$base/s1b"
      val scored = Scoring.dsirScoreFromModel(spark, modelDir,
        Tables.documents(spark, s1).select(col("doc_id"), col("text")))
        .localCheckpoint() // read by threshold, both routes, and the join
      val thr = scored.agg(expr("percentile_approx(log_w, 0.5, 10000)"))
        .collect()(0).getDouble(0)
      val nScoredKeep = scored.filter(col("log_w") >= thr).count()
      val nScoredDrop = scored.filter(col("log_w") < thr).count()
      Tables.documents(spark, s1)
        .join(scored.filter(col("log_w") >= thr).select("doc_id"), "doc_id")
        .write.parquet(s"$s1b/documents.parquet")
      val n1b = nDocs(s1b)
      check("dsir_selection",
        n1b == nScoredKeep && nScoredKeep + nScoredDrop == n1 &&
          n1b > 0 && n1b < n1,
        s"docs $n1 -> $n1b (kept $nScoredKeep + dropped $nScoredDrop = arrived $n1, thr=$thr)")

      // stage 1c — distilled-gate audit (non-filtering): the classifier
      // trained ONCE on the raw corpus (the fastText distillation the
      // oracle-checked quality_classifier query trains) scores the gate's
      // survivors; since every survivor passed the teacher, the student
      // must agree on a healthy majority — a collapsed or inverted
      // student fails loudly here, in the composed pipeline, not just in
      // its unit oracle.
      val qcDir = s"$base/qc_model"
      Scoring.writeQualityClassifier(spark, sfDir, qcDir)
      val audit = Scoring.qcScoreFromModel(spark, qcDir,
        Tables.documents(spark, s1b).select(col("doc_id"), col("text")))
        .localCheckpoint()
      val aTot = audit.count()
      val aKeep = audit.filter(col("qc_keep")).count()
      check("classifier_audit",
        aTot == n1b && aKeep * 100 >= aTot * 70,
        s"student keeps $aKeep of $aTot gate survivors")

      // stage 2 — exact dedup: keep the first doc per normalized
      // fingerprint (THE shared identity every dedup operator uses)
      val s2 = s"$base/s2"
      val survivors = Tables.documents(spark, s1b)
        .withColumn("fp", Portable.docFingerprint)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .filter(col("rk") === 1).drop("fp", "rk")
      survivors.write.parquet(s"$s2/documents.parquet")
      val n2 = nDocs(s2)
      val distinctFp = Tables.documents(spark, s1b)
        .select(Portable.docFingerprint.as("fp")).distinct().count()
      check("exact_dedup", n2 == distinctFp && n2 <= n1b,
        s"docs $n1b -> $n2 (distinct fingerprints $distinctFp)")

      // stage 2a — semantic dedup: the embedding-space prune (SemDeDup)
      // over the raw corpus's embedding table (vec_id ≡ doc_id), dropped
      // ids anti-joined out of the exact-dedup survivors. Documents
      // without an embedding (or pruned earlier) are unaffected — the
      // prune only ever removes, the conservation check still balances.
      val s2a = s"$base/s2a"
      val semDropped = Similarity.semdedupFlags(spark, sfDir)
        .filter(col("dropped")).select(col("vec_id").as("doc_id"))
        .localCheckpoint()
      val nSemHit = Tables.documents(spark, s2)
        .join(semDropped, "doc_id").count()
      Tables.documents(spark, s2)
        .join(semDropped, Seq("doc_id"), "left_anti")
        .write.parquet(s"$s2a/documents.parquet")
      val n2a = nDocs(s2a)
      check("semantic_dedup",
        n2a + nSemHit == n2 && n2a > 0,
        s"docs $n2 -> $n2a (semantic near-dups removed $nSemHit)")

      // stage 2b0 — substring decontamination: winnow fingerprints of the
      // held-out split (the same doc_id % 97 = 0 eval set the n-gram
      // screen uses) indexed once; survivors sharing ≥ 3 fingerprints
      // (any 40-char exact run) with the eval set are dropped FIRST —
      // the char-level screen catches quotes the token screen would also
      // catch, but runs before it so each screen's drop count is visible.
      // On THIS fixture the earlier dedup stages leave no 40-char-run
      // sharers (suspects = 0 at both SFs — conservation and totality are
      // what this stage checks here); the positive planted-pair case is
      // WinnowIndexSpec's job
      val s2b0 = s"$base/s2b0"
      val winIdxDir = s"$base/winnow_index"
      Dedup.writeWinnowIndex(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text")),
        winIdxDir)
      val winVerdicts = Dedup.winnowScreenBatch(
        Tables.documents(spark, s2a).select(col("doc_id"), col("text")),
        Dedup.winnowIndexFps(spark, winIdxDir))
        .localCheckpoint()
      val nWinSuspect = winVerdicts.filter(col("suspect")).count()
      Tables.documents(spark, s2a)
        .join(winVerdicts.filter(col("suspect")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .write.parquet(s"$s2b0/documents.parquet")
      val n2b0 = nDocs(s2b0)
      check("substring_decontaminate",
        n2b0 + nWinSuspect == n2a && n2b0 > 0 &&
          winVerdicts.count() == n2a,
        s"docs $n2a -> $n2b0 (substring suspects $nWinSuspect; screen total over all arrivals)")

      // stage 2b — benchmark decontamination: drop survivors sharing any
      // n-gram with the raw corpus's held-out split (which includes
      // evicting held-out docs themselves if they survived this far —
      // eval data must never reach the training corpus). The bench gram
      // set broadcasts; run after dedup where the corpus is smallest.
      val s2b = s"$base/s2b"
      val overlap = Dedup.ngramOverlapCounts(
        Tables.documents(spark, s2b0).select(col("doc_id"), col("text")),
        Dedup.benchGramHashes(spark, sfDir))
      val nFlagged = overlap.count()
      Tables.documents(spark, s2b0)
        .join(overlap.select("doc_id"), Seq("doc_id"), "left_anti")
        .write.parquet(s"$s2b/documents.parquet")
      val n2b = nDocs(s2b)
      check("decontaminate",
        n2b + nFlagged == n2b0 && n2b > 0,
        s"docs $n2b0 -> $n2b (flagged $nFlagged + clean $n2b = arrived $n2b0)")

      // stage 3 — leakage-safe cluster split audit on the clean corpus
      val split = Dedup.splitLeakageSafe(spark, s2b).collect()
      val splitDocs = split.map(_.getAs[Long]("n_docs")).sum
      check("leakage_safe_split",
        split.length == 3 && splitDocs == n2b,
        s"splits=${split.map(r => s"${r.getString(0)}:${r.getAs[Long]("n_docs")}").mkString(",")} sum=$splitDocs of $n2b")

      // stage 4 — sequence packing: token mass is conserved into bins
      val packed = Packing.packSequences(spark, s2b).collect()
      val packedTokens = packed.map(_.getAs[Long]("n_tokens")).sum
      val t2 = nTokens(s2b)
      val bins = packed.map(_.getAs[Long]("bin_id")).sorted
      check("pack_sequences",
        packedTokens == t2 && bins.sameElements(bins.indices.map(_.toLong)),
        s"bins=${packed.length} tokens=$packedTokens of $t2")

      // stage 5 — tokenizer application: the frozen BPE merge table
      // (trained ONCE on the raw corpus, persisted, read back) applied to
      // the clean corpus. Invariant: each applied merge collapses exactly
      // one adjacent pair, so tokens_before − tokens_after = merges.
      val bpeDir = s"$base/bpe_model"
      TextAnalysis.writeBpeMerges(spark, sfDir, bpeDir)
      val merges = TextAnalysis.bpeMergesFromModel(spark, bpeDir)
      val tok = TextAnalysis.bpeApplyFrozen(
        Tables.documents(spark, s2b).select(col("doc_id"), col("text")), merges)
        .agg(count(lit(1)).as("rows"),
          sum("n_tok_before").as("before"), sum("n_tok_after").as("after"),
          sum("n_merges_applied").as("m")).collect()(0)
      check("bpe_tokenize",
        tok.getAs[Long]("rows") == n2b &&
          tok.getAs[Long]("before") - tok.getAs[Long]("after") ==
            tok.getAs[Long]("m"),
        s"docs=${tok.getAs[Long]("rows")} tokens ${tok.getAs[Long]("before")} -> " +
          s"${tok.getAs[Long]("after")} (merges ${tok.getAs[Long]("m")})")

      // stage 6 — index maintenance: tomorrow's increments grow the
      // winnow index built in stage 2b0 (two screen-and-append batches
      // of clean-corpus docs through the REAL sink-batch path), then the
      // offline fold (`compactWinnowIndex`) re-establishes the global
      // hot cap and the single-relation serve. Invariants: the screen is
      // total per batch, the fold bumps the manifest counter and removes
      // the appended tree, and an exact copy of an INGESTED doc is a
      // suspect when screened against the compacted relation alone —
      // growth survived the fold.
      val s6out = s"$base/s6out"
      val clean = Tables.documents(spark, s2b)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val baseFps = Dedup.winnowIndexFps(spark, winIdxDir)
      val b0 = clean.filter(col("doc_id") % 2 === 0)
      val b1 = clean.filter(col("doc_id") % 2 === 1)
      graft.streaming.Streams.winnowScreenGrowSinkBatch(
        b0, 0L, baseFps, winIdxDir, s6out)
      graft.streaming.Streams.winnowScreenGrowSinkBatch(
        b1, 1L, baseFps, winIdxDir, s6out)
      val screenedTotal = spark.read.parquet(s6out).count()
      Dedup.compactWinnowIndex(spark, winIdxDir)
      val m6 = graft.models.ModelManifest.validate(spark, winIdxDir, "winnow_index")
      val appendedGone = !graft.models.IndexMaintenance
        .exists(spark, s"$winIdxDir/appended")
      // probe: the longest ingested doc re-arrives verbatim under a new id
      val donor = clean.orderBy(length(col("text")).desc, col("doc_id"))
        .select("text").head().getString(0)
      val probe = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(999999999L, donor)),
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
      val caught = Dedup.winnowScreenBatch(probe,
        Dedup.winnowIndexFps(spark, winIdxDir))
        .collect().head.getAs[Boolean]("suspect")
      check("index_maintenance",
        screenedTotal == n2b && m6.params.get("compactions").contains("1") &&
          appendedGone && caught,
        s"screened=$screenedTotal of $n2b, compactions=" +
          s"${m6.params.getOrElse("compactions", "?")}, appended_gone=$appendedGone, " +
          s"reingested_copy_caught=$caught")
    } finally spark.stop() // scratch dir is removed by the Scratch hook
    check.exitOnFailure()
  }
}
