package graft.tools

import org.apache.spark.sql.functions._

/** Far-decade SERVE-path drill (VERDICT r14 item 7): the winnow and
  * semdedup lifecycle indexes are oracle-checked at fixture scale and
  * drilled big only on the BUILD side — but the production question at
  * corpus scale is the serving latency: screen a ~1% arrival batch
  * against an index persisted over the full big fixture. This tool
  * builds each family's index ONCE on the given corpus (the train-offline
  * half, timed for the record), then times the screen of the arrival
  * slice against the frozen artifacts (min-of-3 after a warm-up — the
  * serve-online half, the number that gates).
  *
  * Families:
  *   - `winnow_serve`: [[graft.operators.Dedup.writeWinnowIndex]] over
  *     the corpus, then [[graft.operators.Dedup.winnowScreenBatch]] of
  *     the `doc_id % 100 = 0` slice against the loaded index.
  *   - `semdedup_serve`: [[graft.operators.Similarity.writeSemdedupIndex]]
  *     (k-means + prune), then
  *     [[graft.operators.Similarity.semdedupScreenFromModel]] of the
  *     `vec_id % 100 = 0` embedding slice.
  *
  * Floors: `SPARK_GRAFT_SERVE_FLOORS` (default `serve_floors.json`)
  * holds per-family committed `{t_build, t_serve}`; a run regresses when
  * its serve time exceeds [[ServeBigFactor]] × the committed floor (the
  * ScaleDrill noise-band rationale). `SPARK_GRAFT_UPDATE_SLOPES=1`
  * ratchets floors down (min of committed and measured serve time),
  * never up.
  *
  * Usage: runMain graft.tools.ServeDrill <bigFixtureDir> [copies] [families]
  */
object ServeDrill {
  import Harness.{num, time}

  private val ServeBigFactor = 4.0

  private def floorsPath: String =
    sys.env.getOrElse("SPARK_GRAFT_SERVE_FLOORS", "serve_floors.json")

  private[graft] val ServeFloors = Harness.FloorsFile(("t_build", "t_serve"))

  def main(args: Array[String]): Unit = {
    val big = args(0)
    val copies = if (args.length > 1) args(1).toInt else 300
    val chosen = (if (args.length > 2) args(2).split(",").toSeq
      else Seq("winnow_serve", "semdedup_serve")).toSet
    val spark = Harness.session()
    import graft.operators.{Dedup, Similarity}

    val rows = Seq.newBuilder[(String, Double, Double, Long)]

    if (chosen("winnow_serve")) {
      val idx = graft.operators.Scratch.tempParent("graft-servedrill-w").toString
      val (tBuild, _) = time(Dedup.writeWinnowIndex(spark, big, idx))
      val batch = graft.Tables.documents(spark, big)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 100 === 0)
      val fps = Dedup.winnowIndexFps(spark, idx)
      def serve(): Long = Dedup.winnowScreenBatch(batch, fps).count()
      serve() // warm-up
      val (tServe, n) = Seq.fill(3)(time(serve())).minBy(_._1)
      println(f"[servedrill] winnow_serve   build ${tBuild}%8.2fs  serve ${tServe}%8.2fs  ($n screened)")
      rows += (("winnow_serve", tBuild, tServe, n))
    }

    if (chosen("semdedup_serve")) {
      val idx = graft.operators.Scratch.tempParent("graft-servedrill-s").toString
      val (tBuild, _) = time(Similarity.writeSemdedupIndex(spark, big, idx))
      graft.functions.VecFunctions.register(spark)
      val probes = graft.Tables.embeddings(spark, big)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 100 === 0)
      def serve(): Long =
        Similarity.semdedupScreenFromModel(spark, idx, probes).count()
      serve() // warm-up
      val (tServe, n) = Seq.fill(3)(time(serve())).minBy(_._1)
      println(f"[servedrill] semdedup_serve build ${tBuild}%8.2fs  serve ${tServe}%8.2fs  ($n screened)")
      rows += (("semdedup_serve", tBuild, tServe, n))
    }

    if (chosen("ann_serve")) {
      // The grown-index ANN serving legs (r18 — VERDICT r17 item 1's
      // "×300 ServeDrill delta on grow/serve families"): build the
      // trained-IVF index once over the big corpus, append one ~0.33%
      // arrival batch under the frozen codebook, then time (min-of-3
      // after a warm-up) BOTH serve forms over the ~1% probe slice —
      // `ann_serve` = the base index serve (`serveCells`: cell join +
      // cosine top-3) and `ann_serve_grown` = base ∪ appends with the
      // batch-latest dedup (`serveCellsLatest`), the two paths whose
      // rank windows the r18 bounded top-k fold replaced.
      val idx = graft.operators.Scratch.tempParent("graft-servedrill-a").toString
      val (tBuild, _) = time(Similarity.writeAnnIndex(spark, big, idx))
      graft.functions.VecFunctions.register(spark)
      val emb = graft.Tables.embeddings(spark, big)
        .select(col("vec_id"), col("embedding"))
      val codebook = Similarity.codebookFromDir(spark, idx)
      val (tAppend, _) = time(
        Similarity.annIndexAppendBatch(emb.filter(col("vec_id") % 300 === 7),
          codebook, idx, 0L))
      val probes = emb.filter(col("vec_id") % 100 === 0)
      def serveBase(): Long =
        Similarity.annFromIndex(spark, probes, idx).count()
      def serveGrown(): Long =
        Similarity.annFromIndexGrown(spark, probes, idx).count()
      serveBase(); serveGrown() // warm-up
      val (tServeB, nB) = Seq.fill(3)(time(serveBase())).minBy(_._1)
      val (tServeG, nG) = Seq.fill(3)(time(serveGrown())).minBy(_._1)
      println(f"[servedrill] ann_serve      build ${tBuild}%8.2fs  serve ${tServeB}%8.2fs  ($nB served; append ${tAppend}%.2fs)")
      println(f"[servedrill] ann_serve_grown build ${tBuild}%7.2fs  serve ${tServeG}%8.2fs  ($nG served)")
      rows += (("ann_serve", tBuild, tServeB, nB))
      rows += (("ann_serve_grown", tBuild, tServeG, nG))
    }

    val got = rows.result()
    val floors = ServeFloors.read(floorsPath, copies)
    val regressions = got.flatMap { case (name, _, tServe, _) =>
      floors.get(name)
        .filter { case (_, fs) => fs > 0 && tServe > ServeBigFactor * fs }
        .map { case (_, fs) =>
          s"""{"family":"$name","t_serve":${num(tServe)},"floor_t_serve":${num(fs)}}""" }
    }
    if (sys.env.get("SPARK_GRAFT_UPDATE_SLOPES").contains("1")) {
      val merged = (floors.keySet ++ got.map(_._1)).flatMap { k =>
        val cand = got.find(_._1 == k).map(r => (r._2, r._3))
        (floors.get(k).toSeq ++ cand.toSeq) match {
          case Nil => None
          // ratchet each field independently (ADVICE r15): taking the
          // whole tuple by best serve time let a slow-build/fast-serve
          // run drift the committed build floor upward
          case cs => Some(k -> ((cs.map(_._1).min, cs.map(_._2).min)))
        }
      }.toMap
      ServeFloors.write(floorsPath, copies, merged)
      System.err.println(s"[servedrill] serve floors updated at $floorsPath")
    }
    val body = got.map { case (n, tb, ts, cnt) =>
      s""""$n":{"t_build":${num(tb)},"t_serve":${num(ts)},"screened":$cnt}""" }
      .mkString(",")
    println(s"""{"metric":"serve_drill","copies":$copies,"families":{$body},"regressions":[${regressions.mkString(",")}]}""")
    spark.stop()
  }
}
