package graft.tools

import org.apache.spark.sql.functions._

/** Minimal A/B instrument for the ANN serve join in isolation (r18):
  * serves the `vec_id % 100 = 0` probe slice of `sfDir` against a
  * PREBUILT index directory — no index build, no append, nothing but
  * the two serve forms (`annFromIndex` = serveCells, `annFromIndexGrown`
  * = serveCellsLatest over base ∪ appends) — so two binaries can be
  * compared back-to-back in one host window against the identical
  * on-disk artifacts. Pass `build` as the third arg to (re)build the
  * index + one appended batch first (run once, with either binary —
  * the build path is identical in both).
  *
  * Usage: runMain graft.tools.AnnServeBench <sfDir> <indexDir> [build]
  */
object AnnServeBench {
  import Harness.time

  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val idx = args(1)
    val build = args.length > 2 && args(2) == "build"
    val spark = Harness.session()
    import graft.operators.Similarity
    graft.functions.VecFunctions.register(spark)
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    if (build) {
      val (tB, _) = time(Similarity.writeAnnIndex(spark, sf, idx))
      val cb = Similarity.codebookFromDir(spark, idx)
      val (tA, _) = time(
        Similarity.annIndexAppendBatch(emb.filter(col("vec_id") % 300 === 7),
          cb, idx, 0L))
      println(f"[annservebench] built index at $idx in ${tB}%.2f s, append ${tA}%.2f s")
    }
    val probes = emb.filter(col("vec_id") % 100 === 0)
    def serveBase(): Long = Similarity.annFromIndex(spark, probes, idx).count()
    def serveGrown(): Long = Similarity.annFromIndexGrown(spark, probes, idx).count()
    serveBase(); serveGrown() // warm-up (codebook cache + JIT)
    val base = Seq.fill(3)(time(serveBase()))
    val grown = Seq.fill(3)(time(serveGrown()))
    def fmt(xs: Seq[(Double, Long)]) =
      xs.map(t => f"${t._1}%.2f").mkString("[", ", ", "]") + f" min ${xs.map(_._1).min}%.2f"
    println(s"[annservebench] serve_base  ${fmt(base)}  (${base.head._2} rows)")
    println(s"[annservebench] serve_grown ${fmt(grown)}  (${grown.head._2} rows)")
    spark.stop()
  }
}
