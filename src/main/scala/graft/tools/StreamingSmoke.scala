package graft.tools

import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** End-to-end streaming smoke run (EP1/EP2 outside ScalaTest): Publisher
  * wire messages → `Demo1.build` (parse → parquet append) and `Demo2.build`
  * (event-time windows → parquet append), each drained twice — the second
  * publish advances the watermark past the first batch's windows, which is
  * what lets Demo2's append-mode panes actually emit (a single `--once`
  * drain leaves every window open; this is watermark semantics, not a bug).
  *
  * Usage: runMain graft.tools.StreamingSmoke
  * Prints one PASS/FAIL line per pipeline; non-zero exit on failure.
  */
object StreamingSmoke {
  def main(args: Array[String]): Unit = {
    val base = Files.createTempDirectory("graft-smoke-").toString
    val in = s"$base/in"
    new File(in).mkdirs()
    val endA = 1700000000L
    val spark = Harness.session()

    // 3 users × 10 messages, 10 s apart, ending at endA; the second file is
    // 10 minutes later, far past the 2-minute watermark horizon
    Publisher.publish(in, 1000 until 1003, 10, endA)
    val q1 = Demo1.build(spark, in, s"$base/out1", s"$base/ck1")
    val q2 = Demo2.build(spark, in, s"$base/out2", s"$base/ck2")
    q1.processAllAvailable(); q2.processAllAvailable()
    Publisher.publish(in, 1000 until 1003, 10, endA + 600L)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val check = new Harness.Checks("smoke")

    val out1 = spark.read.parquet(s"$base/out1")
    val users = out1.select("user_id").distinct().collect()
      .map(_.getInt(0)).toSet
    // drop-and-log parity: the last batch that read input publishes its
    // parse_audit counts, covering every row it committed
    val audit = q1.recentProgress.filter(_.numInputRows > 0).lastOption.flatMap { p =>
      Option(p.observedMetrics.get("parse_audit"))
        .map(m => (p.numInputRows, m.getAs[Long]("n_input")))
    }
    check("demo1_parse_etl", out1.count() == 60L && users == Set(1000, 1001, 1002) &&
      audit.exists { case (rows, nInput) => nInput >= rows },
      s"rows=${out1.count()} users=$users last (committed, parse_audit.n_input)=$audit")

    // every window of the first publish is past the watermark after the
    // second → exactly the first 30 events appear in closed windows
    val out2 = spark.read.parquet(s"$base/out2")
    val cnt = out2.agg(sum("cnt")).collect()(0).getLong(0)
    check("demo2_window_count", cnt == 30L, s"sum(cnt)=$cnt windows=${out2.count()}")

    // wire-to-sink composition: bus envelope → normalize → parse →
    // dead-letter sink (valid rows to parquet, structurally invalid ones
    // quarantined with a reason) — the full O1→O2→O11 chain in one query
    import graft.streaming.Streams
    val wire = Publisher.messageLines(Seq(1000, 1001), 5, endA) :+ "corrupt  frame"
    import spark.implicits._
    val envelope = wire.zipWithIndex.map { case (l, i) =>
      (s"k$i".getBytes("UTF-8"), l.getBytes("UTF-8"), "events", 0, i.toLong,
        new java.sql.Timestamp(endA * 1000L + i))
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp")
    // batch run of the same unified transforms (O12: one pipeline, both modes)
    val normalized = Streams.fromBusEnvelope(envelope)
    Streams.deadLetterBatch(normalized, 0L,
      col("payload").startsWith("{"), lit("not_json_object"),
      s"$base/sink3", s"$base/dlq3")
    val sunk = spark.read.parquet(s"$base/sink3").count()
    val dlq = spark.read.parquet(s"$base/dlq3").count()
    check("envelope_deadletter", sunk == 10L && dlq == 1L, s"sink=$sunk dlq=$dlq")

    // streaming funnel leg: a deterministic 3-step user journey delivered
    // OUT OF ORDER (purchase and click land before the view) — the final
    // snapshot must still reach stage 3 with the revised t1/t2/t3
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // transformWithState requires a multi-column-family state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = spark.sqlContext
    val fin = MemoryStream[(Long, String, Long)]
    val fq = Streams.streamingFunnel(fin.toDS())
      .writeStream.format("memory").queryName("smoke_funnel")
      .outputMode("append").start()
    fin.addData((7L, "purchase", 300L), (7L, "click", 200L))
    fq.processAllAvailable()
    fin.addData((7L, "view", 100L)) // late-arriving earlier view
    fq.processAllAvailable()
    fq.stop()
    val stages = spark.table("smoke_funnel")
      .as[Streams.FunnelStage].collect().sortBy(_.stage)
    // guard emptiness so a silent no-snapshot regression prints this leg's
    // FAIL line instead of dying on .head
    val ok = stages.nonEmpty && {
      val last = stages.last
      stages.head.stage == 0 && last.stage == 3 &&
        last.t1 == 100L && last.t2 == 200L && last.t3 == 300L
    }
    check("streaming_funnel", ok,
      if (stages.isEmpty) "no snapshots emitted"
      else s"first=${stages.head.stage} last=(${stages.last.stage},${stages.last.t1},${stages.last.t2},${stages.last.t3})")

    // ingestion quality-gate leg: a malformed producer (empty + NULL text)
    // must conserve rows across accept/quarantine — the NULL-verdict
    // vanishing class the totality fix closed
    val gin = MemoryStream[(Long, String)]
    val gq = Streams.streamQualityGate(gin.toDF().toDF("doc_id", "text"),
      s"$base/gate", s"$base/ckg")
    gin.addData((1L, ""), (2L, null.asInstanceOf[String]),
      (3L, ("the engine builds corpora " * 12).trim))
    gq.processAllAvailable(); gq.stop()
    val acc = spark.read.parquet(s"$base/gate/accepted").count()
    val rej = spark.read.parquet(s"$base/gate/rejected").count()
    check("quality_gate_stream", acc + rej == 3L && rej >= 2L,
      s"accepted=$acc rejected=$rej of 3")

    // blocklist-screen leg: the ingest-time twin of the batch per-source
    // report — a mixed producer (clean doc, blocked-term-dense doc,
    // NULL text) must conserve rows across clean/flagged, with the dense
    // doc flagged and the degenerate one clean (0 hits), never dropped
    val bin = MemoryStream[(Long, String)]
    val bq = Streams.streamBlocklistScreen(bin.toDF().toDF("doc_id", "text"),
      s"$base/bl", s"$base/ckb")
    bin.addData((10L, "the fast table scan join merge window batch"),
      (11L, "slow dup big slow dup big slow dup"),
      (12L, null.asInstanceOf[String]))
    bq.processAllAvailable(); bq.stop()
    val blClean = spark.read.parquet(s"$base/bl/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val blFlagged = spark.read.parquet(s"$base/bl/flagged")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    check("blocklist_stream",
      (blClean ++ blFlagged) == Set(10L, 11L, 12L) &&
        (blClean & blFlagged).isEmpty &&
        blFlagged == Set(11L) && blClean.contains(12L),
      s"clean=$blClean flagged=$blFlagged")

    // distilled-classifier serving leg: train the student ONCE on the
    // fixture corpus, then score a micro-batched stream mixing obvious
    // rejects with a corpus document the teacher gate keeps — the
    // model-at-ingest shape (weights read once, inlined into codegen,
    // no join per batch)
    val sfDir = "/root/testdata/sf0.001"
    val qcModel = s"$base/qc_model"
    graft.operators.Scoring.writeQualityClassifier(spark, sfDir, qcModel)
    val keptDoc = graft.operators.TextAnalysis
      .gopherVerdicts(graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")))
      .filter(col("keep")).select("doc_id", "text")
      .limit(1).collect()(0)
    val cin = MemoryStream[(Long, String)]
    val cq = Streams.streamQualityClassify(cin.toDF().toDF("doc_id", "text"),
      spark, qcModel, s"$base/qc_out", s"$base/ckq")
    cin.addData((900L, "x"), (keptDoc.getLong(0), keptDoc.getString(1)))
    cq.processAllAvailable()
    cin.addData((901L, ""))
    cq.processAllAvailable(); cq.stop()
    val qcOut = spark.read.parquet(s"$base/qc_out")
    val qcKeep = qcOut.filter(col("qc_keep")).count()
    val qcDrop = qcOut.filter(!col("qc_keep")).count()
    check("classifier_stream",
      qcOut.count() == 3L && qcKeep + qcDrop == 3L && qcDrop >= 2L,
      s"scored=${qcOut.count()} keep=$qcKeep drop=$qcDrop")

    // drift-monitor leg: score one in-distribution and one novel batch
    // against the persisted corpus token model — the in-dist batch must
    // show full support coverage and near-zero KL, the novel batch a
    // coverage collapse
    val klModel = s"$base/kl_model"
    graft.operators.TextAnalysis.writeTokenKlModel(spark, sfDir, klModel)
    val kin = MemoryStream[(Long, String)]
    val (kq, kcache) = Streams.streamTokenKl(
      kin.toDF().toDF("doc_id", "text"), spark, klModel, s"$base/kl_out",
      s"$base/ckk")
    val inDistRows = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    kin.addData(inDistRows)
    kq.processAllAvailable()
    kin.addData(Seq((990L, "ZZZ9 YYY8 XXX7 " * 40)))
    kq.processAllAvailable(); kq.stop(); kcache.foreach(_.unpersist())
    // batch_id is partition-inferred (IntegerType for small ids)
    val klRows = spark.read.parquet(s"$base/kl_out")
      .withColumn("batch_id", col("batch_id").cast("long")).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("in_support_bp"), r.getAs[Double]("kl_nats")))).toMap
    check("kl_drift_stream",
      klRows.size == 2 && klRows(0L)._1 == 10000L &&
        klRows(1L)._1 == 0L && klRows(1L)._2 > klRows(0L)._2,
      s"in-dist=${klRows.get(0L)} novel=${klRows.get(1L)}")

    // raw-media ingest leg: binary files dropped into a landing zone come
    // out decoded with in-box resize geometry
    val landing = s"$base/media"
    new File(landing).mkdirs()
    (0 until 4).foreach { i =>
      Files.write(java.nio.file.Paths.get(landing, f"m$i%03d.bin"),
        Array.tabulate(i * 31 + 5)(j => (i + j).toByte))
    }
    val mq = Streams.streamMediaIngest(spark, landing, s"$base/mediaout", s"$base/ckm")
    mq.processAllAvailable(); mq.stop()
    val media = spark.read.parquet(s"$base/mediaout/decoded")
    check("media_ingest",
      media.count() == 4L &&
        media.filter(col("out_w") > 224 || col("out_h") > 224).count() == 0L &&
        media.filter(col("out_w") === 224 || col("out_h") === 224).count() == 4L,
      s"rows=${media.count()} (fit-to-box geometry)")

    // edit-distance screen leg: names arriving at ingest are screened
    // against the persisted PassJoin segment index of fixture part-name
    // history — an exact dup (dist 0), a one-char-dropped near-dup
    // (dist 1), and a novel name (no hits) across two micro-batches
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val editIdx = s"$base/editidx"
      graft.operators.TextAnalysis.writeEditIndex(spark, "/root/testdata/sf0.001", editIdx)
      val someName = graft.Tables.part(spark, "/root/testdata/sf0.001")
        .select("p_name").head().getString(0)
      val ein = MemoryStream[(Long, String)]
      val (eq, ecache) = Streams.streamEditScreen(
        ein.toDF().toDF("key", "name"), spark, editIdx,
        s"$base/editout", s"$base/cke")
      ein.addData(Seq((1L, someName), (2L, someName.dropRight(1))))
      eq.processAllAvailable()
      ein.addData(Seq((3L, "qqqqxxxxzzzz")))
      eq.processAllAvailable()
      eq.stop(); ecache.unpersist()
      val screened = spark.read.parquet(s"$base/editout").collect()
        .map(r => r.getAs[Long]("key") ->
          ((r.getAs[Int]("best_dist"), r.getAs[Boolean]("suspect")))).toMap
      check("edit_screen",
        screened.size == 3 &&
          screened(1L) == ((0, true)) && screened(2L) == ((1, true)) &&
          screened(3L) == ((-1, false)),
        s"verdicts=$screened")
    }

    // ANN grow-ingest leg: embedding vectors arriving at ingest are
    // screened against the persisted IVF index and appended under the
    // frozen codebook — a near-dup of a vector that itself ARRIVED one
    // batch earlier is caught only via the index growth
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val annIdx = s"$base/annidx"
      graft.operators.Similarity.writeAnnIndex(spark, "/root/testdata/sf0.001", annIdx)
      val x = Array.fill(64)(1.0f)
      val xc = x.clone(); xc(0) = 1.2f
      val ain = MemoryStream[(Long, Seq[Float])]
      val aq = Streams.streamAnnIngest(
        ain.toDF().toDF("vec_id", "embedding"), spark, annIdx,
        s"$base/annout", s"$base/cka")
      ain.addData(Seq((30001L, x.toSeq)))
      aq.processAllAvailable()
      ain.addData(Seq((30002L, xc.toSeq)))
      aq.processAllAvailable()
      aq.stop()
      val top = spark.read.parquet(s"$base/annout")
        .filter(col("qid") === 30002L && col("rank") === 1)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      check("ann_ingest_grow",
        top.length == 1 && top.head._1 == 30001L && top.head._2 > 0.99,
        s"top=${top.toSeq}")
    }

    // semdedup screen-and-admit leg: a vector admitted in batch 0 causes
    // its batch-1 near-dup to be REJECTED — the verdict the frozen screen
    // cannot produce
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val semIdx = s"$base/semidx"
      graft.operators.Similarity.writeSemdedupIndex(
        spark, "/root/testdata/sf0.001", semIdx)
      // premise-guarded novel direction (the SemdedupIndexSpec search)
      val kept = spark.read.parquet(s"$semIdx/kept").collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      def cos(a: Array[Float], b: Array[Float]) = {
        def n(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
        a.zip(b).map { case (p, q) => p.toDouble * q }.sum / (n(a) * n(b))
      }
      val x = (0 until 200).iterator.map(c => Array.tabulate(64)(i =>
          if (graft.functions.Portable.hash28Jvm(s"smoke_${c}_$i") % 2 == 0) 1.0f
          else -1.0f))
        .find(v => kept.map(k => math.abs(cos(v, k))).max < 0.35).get
      val xc = x.clone(); xc(0) = x(0) * 1.3f
      val sin = MemoryStream[(Long, Seq[Float])]
      val sq = Streams.streamSemdedupIngest(
        sin.toDF().toDF("vec_id", "embedding"), spark, semIdx,
        s"$base/semout", s"$base/cks")
      sin.addData(Seq((90001L, x.toSeq)))
      sq.processAllAvailable()
      sin.addData(Seq((90002L, xc.toSeq)))
      sq.processAllAvailable()
      sq.stop()
      val verdicts = spark.read.parquet(s"$base/semout").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("is_dup")).toMap
      check("semdedup_ingest_grow",
        verdicts == Map(90001L -> false, 90002L -> true),
        s"verdicts=$verdicts")
    }

    spark.stop()
    check.exitOnFailure()
  }
}
