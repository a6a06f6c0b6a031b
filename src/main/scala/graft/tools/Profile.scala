package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic: run each named query N times in a warm JVM and split its
  * wall time into Spark JOBS (count, per-job wall, task time) vs
  * everything else (driver-side planning, collects, codegen). A query
  * whose wall ≫ Σ job wall is driver/planning-bound; one with many tiny
  * jobs is job-count-bound (iterative loops, checkpoint
  * materializations); one with a single hot job is where the classic
  * stage-level playbook applies.
  *
  * Every rep prints wall, jobs, Σ job wall, task time and tasks; the last
  * rep adds the per-job list and the hottest stages. `--explain` prints
  * each query's formatted physical plan first (the `.explain` loop whose
  * evidence goes to PLANS.md) and `reps = 0` prints plans only;
  * `--explain-final` prints the first rep's post-execution adaptive plan.
  * `--conf key=value` pairs go into the session for plan experiments.
  *
  * Usage: runMain graft.tools.Profile <q1,q2,...> [sfDir] [reps]
  *   [--explain] [--explain-final] [--conf k=v]...
  * (flags follow the positional arguments)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2); k -> v
    }.toSeq
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) scala.util.Try(args(2).toInt).getOrElse(3)
      else 3
    val spark = Harness.session(confs: _*)

    // jobId -> (startNs-at-submit, description) collected by the listener;
    // cleared per rep. Concurrent: listener events arrive on the bus thread.
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(e.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(e.jobId)
        if (st != null) done.add((e.jobId, System.nanoTime() - st._1, st._2))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.name,
          e.stageInfo.taskMetrics.executorRunTime, e.stageInfo.numTasks))
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (args.contains("--explain")) {
        println(s"==== $name ====")
        println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
      for (i <- 1 to reps) {
        done.clear(); stages.clear()
        val (wall, (df, n)) = Harness.time {
          val d = fn(spark, sfDir); (d, d.count())
        }
        GraftBridge.drainListenerBus(spark, 10000L)
        val jl = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        val sl = stages.toArray(Array.empty[(Int, String, Long, Int)])
        println(f"[profile] $name rep $i: wall=$wall%.3f s, jobs=${jl.size}, " +
          f"sum_job_wall=${jl.map(_._2).sum / 1e9}%.3f s, " +
          f"task_time=${sl.map(_._3).sum / 1e3}%.3f s, " +
          f"tasks=${sl.map(_._4.toLong).sum}, rows=$n")
        if (i == 1 && args.contains("--explain-final"))
          println(df.queryExecution.executedPlan.toString)
        if (i == reps) {
          jl.foreach { case (id, ns, desc) =>
            println(f"[profile]   job $id%3d ${ns / 1e9}%7.3f s  $desc")
          }
          // hottest stages by summed task time — where the compute lives
          sl.sortBy(-_._3).take(8).foreach { case (sid, nm, ms, nt) =>
            println(f"[profile]   stage $sid%4d ${ms / 1e3}%8.3f s task-time ($nt%3d tasks)  ${nm.take(110)}")
          }
        }
      }
    }
    spark.stop()
  }
}
