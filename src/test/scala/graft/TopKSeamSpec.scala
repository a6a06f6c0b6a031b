package graft

import graft.functions.BoundedTopK
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard for the one bounded top-k: `functions.BoundedTopK` is the only
  * per-group top-k in `src/main`, and the ranked queries plan it instead
  * of a `row_number` window. A hand-written top-k Aggregator, or a rank
  * that falls back to a Window, fails here. */
class TopKSeamSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  test("src/main defines no TopKAggregator") {
    import java.nio.file.{Files, Path, Paths}
    val walk = Files.walk(Paths.get("src/main"))
    val sources: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "src/main not found from the test working directory")
    val sites = for {
      p <- sources
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains("TopKAggregator")
    } yield s"$p:${i + 1}"
    assert(sites.isEmpty, "TopKAggregator in " + sites.mkString(", "))
  }

  test("ann_ivfpq_topk and ngram_top_per_source execute bounded_top_k and no Window") {
    for (name <- Seq("ann_ivfpq_topk", "ngram_top_per_source")) {
      val df = SparkEntry.queries(name)(spark, SparkTestSession.sf)
      assert(df.collect().nonEmpty, name) // so the adaptive plan is final
      val plan: SparkPlan = df.queryExecution.executedPlan
      val topKs = collectWithSubqueries(plan) {
        case a: BaseAggregateExec => a.aggregateExpressions
          .map(_.aggregateFunction).collect { case t: BoundedTopK => t.prettyName }
      }.flatten
      assert(topKs.nonEmpty, s"$name: no bounded_top_k in\n$plan")
      val windows = collectWithSubqueries(plan) {
        case p if p.nodeName.startsWith("Window") => p.nodeName
      }
      assert(windows.isEmpty, s"$name: $windows in\n$plan")
    }
  }
}
