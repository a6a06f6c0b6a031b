package graft.tools

import org.apache.spark.sql.functions._

/** Long-horizon drill for the grown-index trade (the incremental-index
  * counterpart of `StateDrill`): per-batch screen cost over a grown
  * index climbs with the number of appended batch directories (file
  * listing + per-dir parquet footers — the documented price of
  * append-without-fold), and offline compaction must RESTORE it to
  * near-initial cost. The drill streams `nBatches` small append batches
  * through the real sink-batch functions (edit + ANN families), records
  * per-batch wall times by decile, compacts, and times one
  * post-compaction batch.
  *
  * PASS criteria (printed per family, non-zero exit on failure):
  *   - post-compaction batch time <= 1.6 x the first-decile median
  *     (compaction restores the serve cost), and
  *   - the compacted index serves the SAME verdict a fresh probe got
  *     from the grown form (fold correctness at drill scale).
  * The growth between first and last decile is REPORTED, not gated —
  * it is the trade compaction exists to bound.
  *
  * Usage: runMain graft.tools.GrowDrill [nBatches] [families]
  */
object GrowDrill {
  import Harness.{median, time}

  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 120
    val chosen = (if (args.length > 1) args(1).split(",").toSeq
      else Seq("edit", "ann")).toSet
    val sf = "/root/testdata/sf0.001"
    val spark = Harness.session()
    import spark.implicits._
    val base = graft.operators.Scratch.tempParent("graft-growdrill").toString
    val check = new Harness.Checks("growdrill")

    def report(name: String, times: Seq[Double], tPost: Double,
        foldOk: Boolean): Unit = {
      val d = times.length / 10
      val first = median(times.slice(2, 2 + math.max(d, 3))) // skip JIT batches
      val last = median(times.takeRight(math.max(d, 3)))
      check(name, tPost <= 1.6 * first && foldOk,
        f"first=${first}%.3fs last=${last}%.3fs growth=${last / first}%.2fx " +
        f"post_compact=${tPost}%.3fs restore=${tPost / first}%.2fx fold_ok=$foldOk")
    }

    if (chosen("edit")) {
      val dir = s"$base/editidx"
      graft.operators.TextAnalysis.writeEditIndex(spark, sf, dir)
      val segs = graft.operators.TextAnalysis.editIndexSegments(spark, dir)
        .persist()
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def batchDf(id: Long) = (0 until 8).map { j =>
        val n = (0 until 9).map(i => alpha(
          (graft.functions.Portable.hash28Jvm(s"gd_${id}_${j}_$i") % 26).toInt))
          .mkString
        (id * 100 + j, n)
      }.toDF("key", "name")
      val times = (0L until nBatches.toLong).map { id =>
        time(graft.streaming.Streams.editScreenGrowSinkBatch(
          batchDf(id), id, segs, dir, s"$base/editout"))._1
      }
      // a probe equal to a batch-0 name must keep its grown verdict
      // through the fold
      val probe = batchDf(0L).limit(1)
      val grownSegs = segs.select("name_b", "blk_len", "blk_i", "seg")
        .unionByName(spark.read.parquet(s"$dir/appended")
          .select("name_b", "blk_len", "blk_i", "seg"))
      val before = graft.operators.TextAnalysis.editScreenBatch(probe, grownSegs)
        .collect().head.getAs[Long]("n_matches")
      graft.operators.TextAnalysis.compactEditIndex(spark, dir)
      segs.unpersist()
      val compacted = graft.operators.TextAnalysis.editIndexSegments(spark, dir)
        .persist()
      val tPost = time(graft.streaming.Streams.editScreenGrowSinkBatch(
        batchDf(nBatches + 1L), nBatches + 1L, compacted, dir, s"$base/editout"))._1
      val after = graft.operators.TextAnalysis.editScreenBatch(probe,
        compacted.select("name_b", "blk_len", "blk_i", "seg"))
        .collect().head.getAs[Long]("n_matches")
      compacted.unpersist()
      report("edit_screen_grow", times, tPost, before == after && before >= 1)
    }

    if (chosen("ann")) {
      val dir = s"$base/annidx"
      graft.operators.Similarity.writeAnnIndex(spark, sf, dir)
      val codebook = graft.operators.Similarity.codebookFromDir(spark, dir)
      def vec(seed: String) = (0 until 64).map(i =>
        (graft.functions.Portable.hash28Jvm(s"${seed}_$i") % 2001 - 1000) / 1000.0f)
      def batchDf(id: Long) = (0 until 8).map { j =>
        (id * 100 + j + 1000000L, vec(s"gd_${id}_$j"))
      }.toDF("vec_id", "embedding")
      val times = (0L until nBatches.toLong).map { id =>
        time(graft.streaming.Streams.annIngestSinkBatch(
          batchDf(id), id, codebook, dir, s"$base/annout"))._1
      }
      // a near-copy of a batch-0 vector must keep its grown top-1
      // through the fold
      val v0 = vec("gd_0_0"); val vc = v0.toArray; vc(0) = vc(0) + 0.05f
      val probe = Seq((9999999L, vc.toSeq)).toDF("vec_id", "embedding")
      def top1(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("rank") === 1).collect()
        .headOption.map(r => r.getAs[Long]("vec_id")).getOrElse(-1L)
      val before = top1(graft.operators.Similarity.annScreenGrownBatch(
        probe, codebook, dir, excludeBatch = -1L))
      graft.operators.Similarity.compactAnnIndex(spark, dir)
      val tPost = time(graft.streaming.Streams.annIngestSinkBatch(
        batchDf(nBatches + 1L), nBatches + 1L, codebook, dir, s"$base/annout"))._1
      val after = top1(graft.operators.Similarity.annFromIndex(spark, probe, dir))
      report("ann_ingest_grow", times, tPost,
        before == 1000000L && after == before)

      // retrain stage: full rebuild with a fresh adaptive codebook — the
      // probe's ingested neighbor must survive the rebuild, the manifest
      // must audit it, and ingest keeps working under the new codebook
      val tRetrain = time(graft.operators.Similarity.retrainAnnIndex(spark, dir))._1
      val codebook2 = graft.operators.Similarity.codebookFromDir(spark, dir)
      val afterRetrain = top1(graft.operators.Similarity.annFromIndex(spark, probe, dir))
      val tPostRetrain = time(graft.streaming.Streams.annIngestSinkBatch(
        batchDf(nBatches + 2L), nBatches + 2L, codebook2, dir, s"$base/annout"))._1
      val mr = graft.models.ModelManifest.validate(spark, dir, "ann_ivf_index")
      check("ann_retrain",
        afterRetrain == before && mr.params.get("retrains").contains("1"),
        f"retrain=${tRetrain}%.3fs post_retrain_batch=${tPostRetrain}%.3fs " +
        f"k=${codebook2.size} top1=$afterRetrain retrains=${mr.params.get("retrains")}")
    }

    spark.stop()
    check.exitOnFailure()
  }
}
