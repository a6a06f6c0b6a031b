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
}
