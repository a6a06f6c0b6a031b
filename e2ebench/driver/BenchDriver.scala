package e2ebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.SparkEntry
import graft.tools.{Demo1, Demo2}

/** JVM side of the end-to-end benchmark. It calls only the program's public
  * entry points (`Demo1.build`, `Demo2.build`, `SparkEntry.queries`,
  * `SparkEntry.oracleSql`); inputs are written by the separate generator
  * process and outputs are checked by `run.py`.
  *
  * Usage:
  *   BenchDriver stream <demo1_etl|demo2_window> <workDir> <cores> <reps> <trace 0|1>
  *   BenchDriver batch  <dataDir> <workDir> <cores> <reps> <trace 0|1> <seconds> <q1,q2,...>
  *
  * Protocol on stdout: lines starting with `@@` are for `run.py`; the rest
  * is human-readable. A stream leg prints `@@ready` after its set-up and
  * waits for one line on stdin before it drains and stops the query.
  * Every leg writes `result.json` (and, traced, `spans.jsonl`) to workDir.
  */
object BenchDriver {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val cores = args(3).toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(args(2), "warehouse").getAbsolutePath)
      // keep every batch's progress and checkpoint entry: the latency join
      // reads `sources/0` and `commits` for all batches of the run
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = args(5) == "1"
    val work = args(2)
    val tracer = if (trace) Some(Tracer.install(spark, new File(work).getName)) else None
    val result =
      try mode match {
        case "stream" => StreamLeg.run(spark, args(1), work, args(4).toInt, tracer)
        case "batch" => BatchLeg.run(spark, args(1), work, args(4).toInt, tracer,
          args(6).toDouble, args(7).split(",").toSeq)
      }
      finally tracer.foreach { t => t.quiesce(); t.write(s"$work/spans.jsonl") }
    Files.writeString(Paths.get(s"$work/result.json"), Json.obj(result + ("session_s" -> sessionS)))
    spark.stop()
    println("@@done")
  }
}

/** Minimal JSON writer for the driver's result files (no JSON library is on
  * the program's classpath that the benchmark may rely on). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Demo1/Demo2 legs: `reps` set-up repetitions, each on fresh directories
  * `s<r>/{in,out,ckpt}` whose `in` already holds the generator's first file.
  * The last repetition's query keeps running for the measured phases. */
object StreamLeg {
  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq

  def run(spark: SparkSession, workload: String, work: String, reps: Int,
      tracer: Option[Tracer]): Map[String, Any] = {
    val build: (SparkSession, String, String, String) => StreamingQuery = workload match {
      case "demo1_etl" => Demo1.build
      case "demo2_window" => Demo2.build
    }
    val setups = (0 until reps).map { r =>
      val dir = s"$work/s$r"
      val t0 = System.nanoTime()
      val q = Tracer.span(tracer, "setup", "setup", r.toLong) {
        val q = build(spark, s"$dir/in", s"$dir/out", s"$dir/ckpt")
        q.processAllAvailable()
        q
      }
      val setupS = (System.nanoTime() - t0) / 1e9
      val first = progressOf(q).find(_.numInputRows > 0)
      val firstBatchS = first.map(_.durationMs.get("triggerExecution").toLong / 1e3).getOrElse(-1.0)
      (q, setupS, firstBatchS)
    }
    setups.init.foreach(_._1.stop())
    val q = setups.last._1
    println("@@ready")
    Console.flush()
    scala.io.StdIn.readLine()
    q.processAllAvailable()
    q.stop()
    val progress = progressOf(q)
    val state = progress.flatMap(_.stateOperators.headOption)
    Map(
      "setup_s" -> setups.map(_._2),
      "first_batch_s" -> setups.map(_._3),
      "query_id" -> q.id.toString,
      "rows_dropped_late" -> state.map(_.numRowsDroppedByWatermark).sum,
      "watermark" -> progress.lastOption
        .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse(""),
      "exception" -> q.exception.map(_.getMessage).getOrElse(""))
  }
}

/** The curation leg: a closed loop over `SparkEntry.queries`, one query at
  * a time, each result fully written to the `noop` sink. One cold pass,
  * then warm passes in the given order until `seconds` have elapsed (at
  * least two), then an untimed check pass that writes every result to
  * parquet for the DuckDB oracle, whose SQL goes to `check/oracle_sql.json`
  * first. Times are reported in the given order. */
object BatchLeg {
  def run(spark: SparkSession, data: String, work: String, reps: Int,
      tracer: Option[Tracer], seconds: Double, names: Seq[String]): Map[String, Any] = {
    // Set-up: a fresh session that lists and opens every input table, the
    // work any query's first touch of the corpus pays.
    new File(s"$work/check").mkdirs()
    Files.writeString(Paths.get(s"$work/check/oracle_sql.json"),
      Json.obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val tables = new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).sorted.toSeq
    val setupS = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      Tracer.span(tracer, "setup", "setup", r.toLong) {
        val s = spark.newSession()
        tables.foreach(t => s.read.parquet(t).schema)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def runOne(name: String, pass: Int): Double = {
      val t0 = System.nanoTime()
      try Tracer.span(tracer, "query", name, pass.toLong) {
        val df = Tracer.span(tracer, "build", name, pass.toLong)(SparkEntry.queries(name)(spark, data))
        Tracer.span(tracer, "execute", name, pass.toLong)(df.write.format("noop").mode("overwrite").save())
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }

    def pass(p: Int, order: Seq[String]): Seq[Double] =
      Tracer.span(tracer, "pass", s"pass$p", p.toLong)(order.map(runOne(_, p)))

    // The cold pass runs in name order: whichever query runs first pays the
    // JVM's first-touch costs, and a fixed order keeps that out of the seed.
    val coldTimes = names.sorted.zip(pass(0, names.sorted)).toMap
    val cold = names.map(coldTimes)
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val warmT0 = System.nanoTime()
    while (warm.size < 2 || (System.nanoTime() - warmT0) / 1e9 < seconds)
      warm += pass(warm.size + 1, names)
    // the timed region is over: run.py may now run the oracles alongside
    println("@@timed")
    Console.flush()

    // Untimed check pass: every result to parquet for run.py's DuckDB compare.
    val rows = names.map { name =>
      val out = s"$work/check/$name"
      val n = try {
        SparkEntry.queries(name)(spark, data).write.mode("overwrite").parquet(out)
        spark.read.parquet(out).count()
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          -1L
      }
      name -> n
    }.toMap
    Map(
      "setup_s" -> setupS,
      "queries" -> names,
      "cold" -> cold,
      "warm" -> warm.toSeq,
      "rows" -> rows,
      "errors" -> errors.toMap)
  }
}
