package graft

import org.apache.spark.sql.{GraftBridge, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded metric reads that let verdict queries ride an observed
  * checkpoint job instead of a separate count job. */
class GraftBridgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("observedLong: a fired observation yields its metric; an unfired one falls back within ~1 s") {
    val fired = Observation("fired")
    spark.range(5).observe(fired, count(lit(1)).as("n")).collect()
    assert(GraftBridge.observedLong(fired, "n")(-1L) == 5L)

    val t0 = System.nanoTime()
    val got = GraftBridge.observedLong(Observation("never_ran"), "n")(42L)
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(got == 42L)
    assert(waitedS < 2.5, f"fallback took $waitedS%.2f s")
    assert(GraftBridge.observedMap(Observation("never_ran_map")).isEmpty)
  }

  test("drainListenerBus: a task-end listener has seen every task of the action once it returns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val group = "graft-drain-probe"
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val lis = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stageIds.add(_))
      // slow delivery: without the drain the count is still short
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Thread.sleep(50)
        if (stageIds.contains(e.stageId)) ended.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(lis)
    try {
      sc.setJobGroup(group, group)
      try sc.parallelize(1 to 1000, 7).foreach(_ => ())
      finally sc.clearJobGroup()
      GraftBridge.drainListenerBus(spark, 10000L)
      assert(ended.get == 7)
    } finally sc.removeSparkListener(lis)
  }
}
