package e2ebench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root; times are epoch ms. */
final case class Span(id: Long, parent: Long, layer: String, name: String, key: Long,
    start: Double, var end: Double, attrs: Map[String, Double], tag: String = "")

/** The traced run's recorder. It registers Spark's public listeners from the
  * benchmark's own code and keeps every span in memory until `write`:
  *
  *  - benchmark spans (`setup`, `pass`, `query`, `build`, `execute`) opened
  *    and closed around the calls into the program;
  *  - `job` and `stage` spans from a `SparkListener` — a job's parent is the
  *    innermost benchmark span, bound through a local property; a stream's
  *    job carries its query id (tag) and micro-batch id from Spark's
  *    `sql.streaming.queryId` and `streaming.sql.batchId` properties;
  *  - `plan` spans from a `QueryExecutionListener` (`QueryPlanningTracker`
  *    phases and the executed plan's shuffle exchanges);
  *  - `progress` records from a `StreamingQueryListener`, one per
  *    micro-batch, turned into `batch` and `phase` spans by `run.py`.
  */
final class Tracer(runId: String) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageFailures = new ConcurrentHashMap[Int, AtomicLong]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())
  private val SpanKey = "e2ebench.span"

  private def now(): Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs
  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  // Open benchmark spans, innermost first; only the benchmark thread opens them.
  private val stack = new java.util.ArrayDeque[java.lang.Long]()

  private def add(layer: String, name: String, key: Long, parent: Long, start: Double,
      attrs: Map[String, Double], tag: String = ""): Span = {
    val s = Span(ids.incrementAndGet(), parent, layer, name, key, start, -1, attrs, tag)
    spans.put(s.id, s)
    s
  }

  /** Opens a benchmark span under the innermost open one. Jobs submitted
    * while it is innermost become its children. */
  def open(layer: String, name: String, key: Long): Long = {
    val parent = if (stack.isEmpty) 0L else stack.peek.longValue
    val id = add(layer, name, key, parent, now(), Map.empty).id
    stack.push(id)
    bindJobs()
    id
  }

  def close(id: Long): Unit = {
    spans.get(id).end = now()
    stack.remove(id)
    bindJobs()
  }

  private def bindJobs(): Unit =
    Tracer.spark.sparkContext.setLocalProperty(SpanKey,
      if (stack.isEmpty) null else stack.peek.toString)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val batch = prop("streaming.sql.batchId").map(_.toDouble).getOrElse(-1.0)
      val span = add("job", s"job${e.jobId}", e.jobId.toLong, parent, e.time.toDouble,
        Map("batch_id" -> batch, "stages" -> e.stageIds.size.toDouble),
        tag = prop("sql.streaming.queryId").getOrElse(""))
      jobSpan.put(e.jobId, span.id)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      Option(jobSpan.get(e.jobId)).flatMap(id => Option(spans.get(id))).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      if (e.reason != Success)
        stageFailures.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val si = e.stageInfo
      val m = si.taskMetrics
      val parent = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobSpan.get(j)))
        .map(_.longValue).getOrElse(0L)
      val failures = Option(stageFailures.get(si.stageId)).map(_.get).getOrElse(0L)
      val attrs =
        if (m == null) Map("tasks" -> si.numTasks.toDouble, "task_failures" -> failures.toDouble)
        else Map(
          "tasks" -> si.numTasks.toDouble,
          "task_failures" -> failures.toDouble,
          "task_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("stage", s"stage${si.stageId}", si.stageId.toLong, parent,
        si.submissionTime.getOrElse(0L).toDouble, attrs).end = si.completionTime.getOrElse(0L).toDouble
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      touch()
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val exchanges = helper.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeLike => e
      }.size
      val start = if (phases.isEmpty) now() else phases.values.map(_.startTimeMs).min.toDouble
      add("plan", funcName, 0L, 0L, start, Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "exchanges" -> exchanges.toDouble,
          "duration_ms" -> durationNs / 1e6)).end = System.currentTimeMillis().toDouble
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      progress.add(e.progress.json)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  /** Waits until the listener bus has been quiet for half a second (at
    * most ten seconds), so the last jobs' and batches' events are in. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs.get < 500 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  /** One JSON object per line: spans, then raw progress records. */
  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try {
      spans.values.asScala.toSeq.sortBy(_.id).foreach { s =>
        w.println(Json.obj(Map("type" -> "span", "run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "key" -> s.key, "start" -> s.start,
          "end" -> s.end, "attrs" -> s.attrs, "tag" -> s.tag)))
      }
      progress.asScala.foreach { p =>
        w.println(Json.obj(Map("type" -> "progress", "run" -> runId)).dropRight(1) +
          ",\"progress\":" + p.replace('\n', ' ') + "}")
      }
    } finally w.close()
  }
}

object Tracer {
  /** Benchmark spans use the monotonic clock shifted onto the epoch, so
    * they line up with the listeners' epoch-ms event times. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
  @volatile private var spark: SparkSession = _

  /** Runs `body` inside a benchmark span when tracing, plainly otherwise. */
  def span[T](tracer: Option[Tracer], layer: String, name: String, key: Long)(body: => T): T =
    tracer match {
      case None => body
      case Some(t) =>
        val id = t.open(layer, name, key)
        try body finally t.close(id)
    }

  def install(session: SparkSession, runId: String): Tracer = {
    spark = session
    val t = new Tracer(runId)
    session.sparkContext.addSparkListener(t.sparkListener)
    session.listenerManager.register(t.executionListener)
    session.streams.addListener(t.streamListener)
    t
  }
}
