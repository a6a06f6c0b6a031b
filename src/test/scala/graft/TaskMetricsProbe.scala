package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Per-task shuffle-read record counts of the heaviest stage of a job —
  * the merge stage of a join reads both sides' exchanges, so its total
  * dominates and identifies it. Shared by the skew-balance specs
  * (`AsofSaltedSpec`, `AsofSlicedSpec`): straggler evidence is "max task
  * reads ≥ k× median"; balance evidence is "max ≤ 2× median".
  */
object TaskMetricsProbe {
  def mergeStageTaskReads(spark: SparkSession)(run: => Unit): Seq[Long] = {
    val events = ArrayBuffer.empty[(Int, Long)]
    val lis = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        events.synchronized {
          if (e.taskMetrics != null)
            events += ((e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead))
        }
    }
    spark.sparkContext.addSparkListener(lis)
    try {
      run
      GraftBridge.drainListenerBus(spark, 10000L)
    } finally spark.sparkContext.removeSparkListener(lis)
    val byStage = events.synchronized(events.toList).groupBy(_._1)
    byStage.maxBy(_._2.map(_._2).sum)._2.map(_._2)
  }
}
