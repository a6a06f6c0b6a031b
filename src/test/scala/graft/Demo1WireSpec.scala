package graft

import graft.tools.{Demo1, Publisher}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.json.{JsonToStructsEvaluator, StructsToJsonEvaluator}
import org.apache.spark.sql.execution.{CollectMetricsExec, FilterExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `Demo1.build` end to end on raw wire files: the executed micro-batch plan
  * parses each message once, the `parse_audit` observation accounts for
  * every line, and line shapes outside the reference's one-record bind are
  * dropped and counted the way the reference drops and logs them.
  */
class Demo1WireSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val End = 1700000000L

  /** Runs `Demo1.build` over a fresh input directory; each element of
    * `drops` writes its files into that directory and is drained as its own
    * micro-batch. Returns the stopped query and its parquet output. */
  private def runDemo1(drops: (String => Unit)*): (StreamingQuery, DataFrame) = {
    val base = Files.createTempDirectory("graft_demo1_wire").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val q = Demo1.build(spark, in, s"$base/out", s"$base/ckpt")
    try drops.foreach { drop => drop(in); q.processAllAvailable() }
    finally q.stop()
    (q, spark.read.parquet(s"$base/out"))
  }

  private def write(dir: String, name: String, text: String): Unit =
    Files.writeString(Paths.get(dir, name), text)

  /** (n_input, n_malformed) summed over every batch's `parse_audit`. */
  private def audit(q: StreamingQuery): (Long, Long) =
    q.recentProgress.flatMap(p => Option(p.observedMetrics.get("parse_audit")))
      .map(m => (m.getAs[Long]("n_input"), m.getAs[Long]("n_malformed")))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  test("Demo1 plan: one from_json, no to_json, parse_audit pinned below the filter") {
    val (q, out) = runDemo1(in => Publisher.publish(in, 1000 until 1003, 10, End))
    assert(out.count() == 30L)
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    def occurrences(hit: Expression => Boolean): Int =
      plan.collect { case n => n.expressions.map(_.collect { case e if hit(e) => e }.size).sum }.sum
    val parses = occurrences {
      case _: JsonToStructs => true
      case Literal(_: JsonToStructsEvaluator, _) => true
      case _ => false
    }
    val renders = occurrences {
      case _: StructsToJson => true
      case Literal(_: StructsToJsonEvaluator, _) => true
      case _ => false
    }
    assert(parses == 1 && renders == 0,
      s"from_json x$parses, to_json x$renders in\n$plan")
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.nonEmpty && filters.forall(_.child.exists {
      case c: CollectMetricsExec => c.name == "parse_audit"
      case _ => false
    }), s"parse_audit is not below every Filter in\n$plan")
  }

  test("Demo1 parse_audit: malformed lines are counted, the rest reach the sink") {
    val malformed = Seq("not json {{{", """{"user_id": 7, "click": 1}""",
      """{"event_time": "soon", "user_id": 7, "click": 1}""")
    val (q, out) = runDemo1(
      in => Publisher.publish(in, 1000 until 1003, 10, End),
      in => write(in, "mixed.json",
        (Publisher.messageLines(Seq(1003), 4, End + 600L) ++ malformed).mkString("", "\n", "\n")))
    val (nInput, nMalformed) = audit(q)
    assert(nMalformed == 3L)
    assert(nInput - nMalformed == out.count(), s"n_input=$nInput sink=${out.count()}")
    assert(out.count() == 34L)
  }

  test("Demo1 wire lines: arrays are malformed; padding, CRLF and a bad field keep their row") {
    val (q, out) = runDemo1(in => {
      write(in, "a.json", Seq(
        """[{"event_time": 2, "user_id": 1, "click": 1}, {"event_time": 3, "user_id": 1, "click": 1}]""",
        """[{"event_time": 4, "user_id": 2, "click": 1}]""",
        """   {"event_time": 5, "user_id": 3, "click": 1}   """,
        """{"user_id": "x", "event_time": 6, "click": 1}""").mkString("", "\n", "\n"))
      write(in, "b.json",
        "{\"event_time\": 7, \"user_id\": 4, \"click\": 1}\r\n" +
        "{\"event_time\": 8, \"user_id\": 5, \"click\": 1}\r\n")
    })
    val rows = out.select(unix_timestamp(col("event_time")), col("user_id")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // padded, CRLF-terminated and bad-field lines parse as on the JSON file
    // reader: kept, the unbindable field NULL
    assert(Set[(Long, Option[Any])]((5L, Some(3)), (6L, None), (7L, Some(4)), (8L, Some(5)))
      .subsetOf(rows), s"rows=$rows")
    // a top-level array is not one InputMessage: the reference's bind rejects
    // it, so it is dropped and counted, never expanded into rows
    assert(rows.map(_._1) == Set(5L, 6L, 7L, 8L), s"rows=$rows")
    assert(audit(q) == ((6L, 2L)))
  }
}
