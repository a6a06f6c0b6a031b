package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized (qid, vec_id, score, payload) frames through the
  * payload-carrying, direction-parameterized bounded top-k
  * ([[graft.operators.Similarity.topkByQid]] with a carried column /
  * [[graft.functions.BoundedTopK]]) against the exact window
  * forms it replaced in the serve paths (r18):
  * `row_number().over(partitionBy(qid).orderBy(score asc|desc,
  * vec_id asc)) <= k`. Same discipline as `TopKAggProps`: the comparison
  * runs IN Spark so it inherits nanSafeCompareDoubles (-0.0 == 0.0, NaN
  * greatest — FIRST under desc, LAST under asc); the score pool forces
  * ties, both double edge cases and NULL (LAST under desc, FIRST under
  * asc); rows compare on raw double BITS, a NULL apart from 0.0; the
  * payload must arrive attached to exactly the row it entered with
  * (payload = a deterministic function of (qid, vec_id) the checker
  * recomputes). */
object PayloadTopKAggProps extends Properties("PayloadTopKAgg") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestSession.spark

  private val scorePool: Seq[Option[Double]] = None +: Seq(
    -1.0, -0.5, -0.1234, -0.0, 0.0, 0.1234, 0.5, 0.9999, 1.0, Double.NaN).map(Some(_))

  private case class Row4(qid: Long, vecId: Long, score: Option[Double], pay: Long)

  private val frameGen: Gen[(Int, Boolean, List[Row4])] = for {
    k <- Gen.chooseNum(1, 6)
    asc <- Gen.oneOf(true, false)
    nq <- Gen.chooseNum(1, 4)
    rows <- Gen.sequence[List[List[Row4]], List[Row4]]((0 until nq).toList.map { q =>
      for {
        n <- Gen.chooseNum(0, 12)
        cs <- Gen.listOfN(n, Gen.oneOf(scorePool))
      } yield cs.zipWithIndex.map { case (c, i) =>
        Row4(q.toLong, i.toLong, c, q.toLong * 1000 + i) }
    })
  } yield (k, asc, rows.flatten)

  property("payload aggregate equals the window form bit-for-bit, both directions") =
    Prop.forAll(frameGen) { case (k, asc, rows) =>
      import spark.implicits._
      val df = rows.map(r => (r.qid, r.vecId, r.score, r.pay))
        .toDF("qid", "vec_id", "score", "pay")
      val order = if (asc) col("score").asc else col("score").desc
      val w = Window.partitionBy("qid").orderBy(order, col("vec_id").asc)
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
          Option(r.getAs[java.lang.Double]("score"))
            .map(c => java.lang.Double.doubleToRawLongBits(c)),
          r.getAs[Long]("pay"))
      val want = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("qid", "rank", "vec_id", "score", "pay")
        .collect().map(key).sorted.toList
      val got = graft.operators.Similarity
        .topkByQid(k, Seq(order, col("vec_id").asc), carried = Seq("pay"))(df)
        .select("qid", "rank", "vec_id", "score", "pay")
        .collect().map(key).sorted.toList
      // the payload really is the row's own: re-derivable from (qid, vec_id)
      val payOk = got.forall { case (q, _, v, _, p) => p == q * 1000 + v }
      if (got != want || !payOk) {
        println(s"k=$k asc=$asc rows=$rows\n got=$got\nwant=$want payOk=$payOk")
      }
      got == want && payOk
    }
}
