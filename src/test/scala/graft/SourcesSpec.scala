package graft

import graft.sources.Sources
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source/sink surface tests (SURVEY.md §2.2 rows "Scans / sources",
  * "Sinks", "File formats").
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("json lines source: declared schema, corrupt records dropped") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "data.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"event_time": 1704100000, "user_id": 1000, "click": 1}""")
    w.println("""this is not json""")
    w.println("""{"event_time": 1704100010, "user_id": 1001, "click": 0}""")
    w.close()
    val df = Sources.jsonLines(spark, f.getAbsolutePath, Tables.wireSchema)
    val good = df.filter(col("user_id").isNotNull)
    assert(good.count() == 2)
    assert(df.schema == Tables.wireSchema)
  }

  test("csv source round-trip with declared schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val orders = Tables.orders(spark, sf).limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    val back = Sources.csv(spark, dir, schema)
    assert(back.count() == 100)
    assert(back.agg(sum("o_totalprice")).collect()(0).getDouble(0) ===
      orders.agg(sum("o_totalprice")).collect()(0).getDouble(0))
  }

  test("orc source round-trip (second columnar format)") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val orders = Tables.orders(spark, sf).limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 100)
    assert(back.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(back.agg(sum("o_totalprice")).collect()(0).getDouble(0) ===
      orders.agg(sum("o_totalprice")).collect()(0).getDouble(0))
  }

  test("binaryFile source: media bytes land as binary rows, glob prunes at listing") {
    val dir = Files.createTempDirectory("graft_media_in").toString
    // two fake media files + one sidecar that the glob must prune unread
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    val wav = "RIFF0000WAVEfmt ".getBytes("UTF-8")
    Files.write(java.nio.file.Paths.get(s"$dir/a.png"), png)
    Files.write(java.nio.file.Paths.get(s"$dir/b.wav"), wav)
    Files.write(java.nio.file.Paths.get(s"$dir/notes.txt"), "sidecar".getBytes)
    val all = Sources.binaryFiles(spark, dir)
    assert(all.count() == 3)
    assert(all.schema("content").dataType == BinaryType)
    val media = Sources.binaryFiles(spark, dir, glob = "*.{png,wav}")
      .select(col("path"), col("length"), col("content"))
      .collect().map(r => (r.getAs[String]("path").split('/').last,
        r.getAs[Long]("length"), r.getAs[Array[Byte]]("content")))
    assert(media.map(_._1).toSet == Set("a.png", "b.wav"))
    val byName = media.map(m => m._1 -> m).toMap
    assert(byName("a.png")._3.sameElements(png) && byName("a.png")._2 == png.length)
    assert(byName("b.wav")._3.sameElements(wav))
  }

  test("parquet bloom filter prunes row groups on point lookups where min/max cannot") {
    val n = 1 << 18
    // odd-multiplier mod-2^18 bijection scatters ids so EVERY row group
    // spans nearly the full value range — min/max stats prune nothing and
    // only a bloom filter can skip row groups on a point predicate (the
    // complement of the z-order proof, which is min/max pruning's best case)
    val scattered = spark.range(n)
      .select(((col("id") * 123457L) % n).as("doc_id"), col("id").as("payload"))
    val base = Files.createTempDirectory("graft_bloom").toString
    scattered.coalesce(1).write
      .option("parquet.block.size", (256 * 1024).toString)
      .parquet(s"$base/plain")
    scattered.coalesce(1).write
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .parquet(s"$base/bloom")
    val probe = (12345L * 123457L) % n
    def scanned(layout: String): (Long, Long) = {
      val df = spark.read.parquet(s"$base/$layout").filter(col("doc_id") === probe)
      val hits = df.collect().length.toLong
      val rows = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (hits, rows)
    }
    val (hitsPlain, rowsPlain) = scanned("plain")
    val (hitsBloom, rowsBloom) = scanned("bloom")
    assert(hitsPlain == 1L && hitsBloom == 1L) // layout never changes the answer
    assert(rowsPlain > n / 2,
      s"min/max unexpectedly pruned the scattered layout ($rowsPlain of $n)")
    assert(rowsBloom * 4 < rowsPlain,
      s"bloom filter failed to skip row groups: $rowsBloom vs $rowsPlain")
  }

  test("parquet schema evolution: mergeSchema unions batches, old rows null-fill") {
    // a corpus accretes columns over time (new quality signals, new
    // provenance fields); the lake must read old and new batches as one
    // table without rewriting history
    val dir = Files.createTempDirectory("graft_evolve").toString
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", 9500L)).toDF("doc_id", "text", "quality_bp")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet == Set("doc_id", "text", "quality_bp"))
    assert(merged.count() == 3)
    val byId = merged.collect().map(r =>
      r.getAs[Long]("doc_id") -> Option(r.getAs[java.lang.Long]("quality_bp"))).toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty, "pre-evolution rows null-fill")
    assert(byId(3L).contains(9500L))
    // and filters on the evolved column still prune: old files lack the
    // column entirely, yet the unified scan answers the predicate
    assert(merged.filter(col("quality_bp") >= 9000L).count() == 1)
  }

  test("day-partitioned parquet sink + partition pruning on read (O11 sink parity)") {
    // the reference's BigQuery sink is day-partitioned on a time column
    // (google_bigquery.tf:17-21); the Spark twin is partitionBy(date) on
    // write, and a date filter on read must prune to one partition dir
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val back = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-03")
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    // collect() (not count()) so the metrics below belong to THIS plan
    assert(back.collect().length == expected && expected > 0)
    // real pruning evidence: the scan's PartitionFilters list is NON-EMPTY
    // and filters on event_date (an un-pushed filter renders as
    // "PartitionFilters: []" — bare substring checks pass vacuously), and
    // the post-execution numFiles metric confirms one file was read
    val scan = back.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert("PartitionFilters: \\[[^\\]]*event_date".r
      .findFirstIn(scan.toString).isDefined,
      s"expected event_date inside PartitionFilters, got:\n$scan")
    assert(scan.metrics("numFiles").value == 1L,
      s"expected 1 pruned file, read ${scan.metrics("numFiles").value}")
  }

  test("file-stream source + parquet append sink (O1 + O11 streaming path)") {
    val in = Files.createTempDirectory("graft_stream_in").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    // drop a json file into the watched dir, then start the stream
    val w = new java.io.PrintWriter(s"$in/batch1.json")
    (1 to 5).foreach(i => w.println(s"""{"event_time": ${1704100000 + i}, "user_id": $i, "click": 1}"""))
    w.close()
    val stream = Sources.fileStream(spark, in, Tables.wireSchema)
      .withColumn("event_ts", timestamp_seconds(col("event_time")))
    val q = graft.streaming.Streams.appendToParquet(stream, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val result = spark.read.parquet(outDir)
    assert(result.count() == 5)
    assert(result.columns.contains("event_ts"))
  }

  test("checkpoint restart: new files only, no reprocessing, no loss (O11 recovery)") {
    val in = Files.createTempDirectory("graft_restart_in").toString
    val outDir = Files.createTempDirectory("graft_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    def drop(name: String, ids: Range): Unit = {
      val w = new java.io.PrintWriter(s"$in/$name")
      ids.foreach(i => w.println(
        s"""{"event_time": ${1704100000 + i}, "user_id": $i, "click": 1}"""))
      w.close()
    }
    def run(): Unit = {
      val stream = Sources.fileStream(spark, in, Tables.wireSchema)
      val q = Streams.appendToParquet(stream, outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // life 1: process the first batch, then die (q.stop simulates the crash)
    drop("b1.json", 1 to 5)
    run()
    // life 2: same checkpoint — must pick up ONLY the new file; the file
    // source's processed-file log + the sink's commit log give end-to-end
    // exactly-once on restart (the recovery half of the at-least-once O11
    // contract the reference gets from Dataflow)
    drop("b2.json", 6 to 9)
    run()
    val ids = spark.read.parquet(outDir).collect()
      .map(_.getAs[Int]("user_id")).toSeq
    assert(ids.sorted == (1 to 9), s"expected 1..9 exactly once, got $ids")
    // life 3: restart with nothing new — a no-op, not a replay
    run()
    assert(spark.read.parquet(outDir).count() == 9)
  }

  test("rate source produces monotonically increasing synthetic rows (O15)") {
    val q = Sources.rate(spark, 100)
      .writeStream.format("memory").queryName("rate_out").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
    } finally q.stop()
    val vals = spark.table("rate_out").collect().map(_.getAs[Long]("value"))
    assert(vals.nonEmpty)
    assert(vals.sorted.toSeq == (vals.min to vals.max))
  }

  test("bus envelope normalizes to the wire payload, streamed and batch (O1 seam)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lines = tools.Publisher.messageLines(Seq(1, 2), 3, 1700000000L)
    // Kafka-source-shaped envelope rows wrapping the Publisher wire messages
    val envRows = lines.zipWithIndex.map { case (l, i) =>
      (s"k$i".getBytes("UTF-8"), l.getBytes("UTF-8"), "events", 0,
        i.toLong, new java.sql.Timestamp(1700000000000L + i))
    }
    val envCols = Seq("key", "value", "topic", "partition", "offset", "timestamp")
    def parsedRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
      df.select(unix_timestamp(col("event_time")), col("user_id"), col("click"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // batch leg: envelope → normalize → parse == raw lines → parse
    val viaEnvelope = parsedRows(Streams.demo1ParseEtl(
      Streams.fromBusEnvelope(envRows.toDF(envCols: _*))))
    val direct = parsedRows(Streams.demo1ParseEtl(lines.toDF("payload")))
    assert(viaEnvelope == direct && viaEnvelope.size == 6)
    // streaming leg: the same normalization over an unbounded envelope source
    val in = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp)]
    val q = Streams.demo1ParseEtl(Streams.fromBusEnvelope(in.toDF().toDF(envCols: _*)))
      .writeStream.format("memory").queryName("envelope_out")
      .outputMode("append").start()
    try {
      in.addData(envRows)
      q.processAllAvailable()
      assert(parsedRows(spark.table("envelope_out")) == direct)
    } finally q.stop()
  }

  test("dead-letter sink quarantines invalid rows idempotently (O11 retry parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft_dlq").toString
    val (sink, dlq, ckpt) = (s"$base/sink", s"$base/quarantine", s"$base/ckpt")
    val valid = col("payload").startsWith("{")
    val reason = when(!col("payload").startsWith("{"), lit("structurally_invalid"))
    val in = MemoryStream[String]
    val q = Streams.appendWithDeadLetter(
      in.toDF().withColumnRenamed("value", "payload"),
      valid, reason, sink, dlq, ckpt)
    try {
      in.addData("""{"user_id": 1}""", "garbage-1", """{"user_id": 2}""")
      q.processAllAvailable()
      in.addData("garbage-2", """{"user_id": 3}""")
      q.processAllAvailable()
    } finally q.stop()
    val sunk = spark.read.parquet(sink)
    val quarantined = spark.read.parquet(dlq)
    assert(sunk.count() == 3 && quarantined.count() == 2)
    assert(quarantined.select("dlq_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("structurally_invalid"))
    assert(quarantined.columns.contains("batch_id"), "error info carries the batch id")
    // redelivery: re-running a batch id replaces its output, adds nothing
    val batch0 = Seq("""{"user_id": 1}""", "garbage-1", """{"user_id": 2}""").toDF("payload")
    Streams.deadLetterBatch(batch0, 0L, valid, reason, sink, dlq)
    assert(spark.read.parquet(sink).count() == 3, "redelivered batch must not duplicate")
    assert(spark.read.parquet(dlq).count() == 2)
    // NULL validity (null payload) must quarantine, never vanish
    val batchNull = Seq(Some("""{"user_id": 4}"""), None).toDF("payload")
    Streams.deadLetterBatch(batchNull, 2L, valid, reason, sink, dlq)
    assert(spark.read.parquet(sink).count() == 4)
    val q2 = spark.read.parquet(dlq)
    assert(q2.count() == 3, "null-validity row lost instead of quarantined")
    assert(q2.filter(col("dlq_reason") === "validity_null").count() == 1)
  }

  test("foreachBatch idempotent sink: batch ids enable exactly-once writes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val seen = scala.collection.mutable.Map[Long, Long]()
    val in = MemoryStream[Int]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // idempotence hook: skip already-committed batch ids
        if (!seen.contains(id)) seen(id) = batch.count()
        ()
      }
      .start()
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      in.addData(4, 5); q.processAllAvailable()
    } finally q.stop()
    assert(seen.values.sum == 5)
    assert(seen.keys.toSet.size == seen.size, "each batch id committed once")
  }

  test("streaming indexed dedup: cross-batch drops, redelivery reproduces survivors") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_dedup_idx").toString
    val out = Files.createTempDirectory("graft_dedup_out").toString
    val fp = graft.functions.Portable.docFingerprint
    def run(id: Long, docs: Seq[(Long, String)], runId: String = "run-1"): Unit =
      graft.streaming.Streams.dedupIndexedBatch(
        docs.toDF("doc_id", "text"), id, runId, fp, col("doc_id"), idx, out)
    def ids(id: Long): Set[Long] =
      spark.read.parquet(s"$out/batch_id=$id").collect()
        .map(_.getAs[Long]("doc_id")).toSet
    // batch 0: two docs + an intra-batch duplicate of the first
    run(0L, Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")))
    assert(ids(0L) == Set(1L, 2L))
    // batch 1: one dup of batch 0, one fresh doc
    run(1L, Seq((4L, "gamma delta"), (5L, "epsilon zeta")))
    assert(ids(1L) == Set(5L))
    // redelivered batch 1: must NOT dedupe against its own prior append
    run(1L, Seq((4L, "gamma delta"), (5L, "epsilon zeta")))
    assert(ids(1L) == Set(5L), "redelivery changed the survivor set")
    // index holds every survivor fingerprint; duplicates are harmless
    val idxFps = spark.read.parquet(idx).select("fp").distinct().count()
    assert(idxFps == 3L, s"index should hold 3 distinct fps, got $idxFps")
    // checkpoint reset: a NEW run's batch ids restart at 0 — its batch 0
    // must still dedupe against the old run's batch-0 rows (the exemption
    // keys on (run, batch), not batch id alone)
    run(0L, Seq((6L, "alpha beta"), (7L, "eta theta")), runId = "run-2")
    assert(ids(0L) == Set(7L),
      "post-reset batch 0 readmitted the old run's batch-0 duplicates")
  }

  test("streamDedupIndexed: a restart on a fresh checkpoint still drops indexed fingerprints") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft_dedup_stream").toString
    val idx = s"$base/index"
    // one query life: start on its own checkpoint, feed one batch, stop
    def life(n: Int, docs: (Long, String)*): Set[Long] = {
      val in = MemoryStream[(Long, String)]
      val q = Streams.streamDedupIndexed(in.toDF().toDF("doc_id", "text"),
        graft.functions.Portable.docFingerprint, col("doc_id"),
        idx, s"$base/out$n", s"$base/ckpt$n")
      try { in.addData(docs); q.processAllAvailable() } finally q.stop()
      spark.read.parquet(s"$base/out$n").collect()
        .map(_.getAs[Long]("doc_id")).toSet
    }
    try {
      assert(life(1, (1L, "alpha beta"), (2L, "gamma delta")) == Set(1L, 2L))
      // the fresh checkpoint restarts batch ids at 0; only a fresh run id
      // keeps the redelivery exemption from waving through life 1's batch 0
      assert(life(2, (3L, "Alpha  beta"), (4L, "epsilon zeta")) == Set(4L),
        "a fingerprint indexed by the previous run was readmitted")
    } finally SparkTestSession.deleteRecursively(base)
  }

  test("streaming CDC upsert maintains a versioned snapshot idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft_upsert").toString
    val (snap, ckpt) = (s"$base/snapshot", s"$base/ckpt")
    val in = MemoryStream[(Long, String, Double)]
    val changes = in.toDF().toDF("k", "op", "price")
    val q = Streams.streamUpsert(changes, snap, "k", ckpt)
    try {
      in.addData((1L, "I", 10.0), (2L, "I", 20.0), (3L, "I", 30.0))
      q.processAllAvailable()
      in.addData((2L, "U", 25.0), (3L, "D", 0.0), (4L, "I", 40.0))
      q.processAllAvailable()
    } finally q.stop()
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("price"))).toSet
    val expected = Set((1L, 10.0), (2L, 25.0), (4L, 40.0))
    assert(Streams.latestSnapshotVersion(spark, snap).contains(1L))
    assert(state(Streams.readSnapshot(spark, snap)) == expected)
    // snapshot isolation: the pre-batch version is still readable intact
    assert(state(spark.read.parquet(s"$snap/v=0")) ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // redelivery: re-applying batch 1 rebuilds v=1 from v=0 — same state
    val redelivered = Seq((2L, "U", 25.0), (3L, "D", 0.0), (4L, "I", 40.0))
      .toDF("k", "op", "price")
    Streams.upsertBatch(redelivered, 1L, snap, "k")
    assert(state(Streams.readSnapshot(spark, snap)) == expected,
      "redelivered batch must not double-apply")
    // multiple changes for one key in ONE batch: with a sequence column
    // the LAST change wins — I-then-D deletes, U-then-U leaves one row
    val multi = Seq(
      (5L, "I", 50.0, 1L), (5L, "D", 0.0, 2L),   // net effect: absent
      (6L, "U", 1.0, 1L), (6L, "U", 2.0, 2L),    // net effect: one row, 2.0
      (1L, "D", 0.0, 1L))
      .toDF("k", "op", "price", "seq")
    Streams.upsertBatch(multi, 2L, snap, "k", seqCol = Some("seq"))
    val v2 = state(Streams.readSnapshot(spark, snap))
    assert(v2 == Set((2L, 25.0), (4L, 40.0), (6L, 2.0)),
      s"intra-batch change sequences mis-applied: $v2")
    assert(Streams.readSnapshot(spark, snap)
      .filter(col("k") === 6L).count() == 1L, "duplicate key rows in snapshot")
  }

  test("pure-SQL surface: fixture views + native functions drive queries from spark.sql") {
    graft.functions.VecFunctions.register(spark)
    Tables.registerViews(spark, sf)
    // a TPC-H-ish aggregate, a streaming-fixture scan, and a native
    // function — all from SQL alone, no DataFrame code
    val q1 = spark.sql(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(q1.collect().map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count())
    val ev = spark.sql("SELECT count(*) AS n FROM events WHERE event_type = 'view'")
    assert(ev.collect()(0).getAs[Long]("n") > 0)
    val vec = spark.sql(
      "SELECT vec_id, round(vec_dot(embedding, embedding), 4) AS self_dot " +
        "FROM embeddings ORDER BY vec_id LIMIT 3").collect()
    assert(vec.length == 3 && vec.forall(_.getAs[Double]("self_dot") > 0.0))
  }

  test("GraftExtensions: native functions callable from plain SQL") {
    import org.apache.spark.sql.SparkSession
    val _ = spark // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    // getOrCreate returns the existing session (and skips extensions) unless
    // the default/active session is cleared; the SparkContext is reused
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      // same registration a deployment gets from
      // spark.sql.extensions=graft.plans.GraftExtensions (static conf —
      // must go through withExtensions here because the context is reused)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    val got = s2.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
        |       simhash(array('the', 'quick', 'fox')) AS sh,
        |       word_shingles(array('a', 'b', 'c'), 2) AS ws""".stripMargin)
      .collect()(0)
    assert(got.getAs[Double]("d") == 11.0)
    assert(got.getAs[Double]("n") == 5.0)
    assert(got.getAs[Long]("sh") >= 0L && got.getAs[Long]("sh") < (1L << 28))
    assert(got.getSeq[String](got.fieldIndex("ws")).toSeq == Seq("a b", "b c"))
    // the whole-operator SQL surface: a plain-SQL LEFT JOIN with asof_le
    // in the ON clause must plan the injected AsofJoinStrategy's native
    // exec — a pure-SQL consumer gets the as-of operator with no Scala
    import s2.implicits._
    Seq((1L, 10L), (2L, 3L)).toDF("k", "t").createOrReplaceTempView("probes_sql")
    Seq((1L, 5L), (1L, 8L), (2L, 9L)).toDF("rk", "rt")
      .createOrReplaceTempView("quotes_sql")
    val j = s2.sql(
      """SELECT k, t, rt FROM probes_sql LEFT JOIN quotes_sql
        |ON k = rk AND asof_le(t, rt)""".stripMargin)
    // the tiny fixture sits under autoBroadcastJoinThreshold, so size-based
    // selection picks the broadcast exec — either native exec proves the
    // pure-SQL strategy wiring this test is about
    val planStr = j.queryExecution.executedPlan.toString
    assert(planStr.contains("AsofJoin") || planStr.contains("AsofBroadcastJoin"))
    assert(j.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ===
      Set((1L, 8L), (2L, -1L))) // latest prior; no quote <= t=3 for k=2
  }

  test("kafka source wiring: real connector construction behind the envelope seam") {
    // deferred options fail loudly BEFORE any source is constructed
    val unbound = intercept[IllegalArgumentException] {
      Streams.fromKafka(spark, "env:GRAFT_SPEC_UNSET_BROKERS", "events")
    }
    assert(unbound.getMessage.contains("GRAFT_SPEC_UNSET_BROKERS"))
    // with options bound, the construction must reach Spark's DataSource
    // machinery. Two legitimate outcomes, both pinned: with the
    // spark-sql-kafka-0-10 connector on the classpath, load() succeeds
    // without a broker round-trip and the seam yields the normalized
    // envelope schema; without it (this sandbox), lookup fails with
    // Spark's documented "Failed to find data source: kafka" guidance —
    // proving the format string and option plumbing are live code, not a
    // string in a comment.
    try {
      val df = Streams.fromKafka(spark, "localhost:19092", "events")
      assert(df.isStreaming)
      assert(df.columns.toSeq ==
        Seq("payload", "msg_key", "publish_time", "topic", "partition", "offset"))
      assert(df.schema("payload").dataType == StringType)
      assert(df.schema("offset").dataType == LongType)
    } catch {
      case e: Exception =>
        assert(e.getMessage != null && e.getMessage.contains("kafka"),
          s"unexpected failure mode: $e")
        assert(e.getMessage.contains("Failed to find data source"),
          s"kafka lookup failed for the wrong reason: ${e.getMessage}")
    }
  }

  private implicit class DoubleOps(a: Double) {
    def ===(b: Double): Boolean = math.abs(a - b) < 1e-6
  }
}
