package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized (qid, vec_id, cosine) frames through the bounded top-k
  * aggregate ([[graft.operators.Similarity.topkByQid]] /
  * [[graft.functions.BoundedTopK]]) against the exact window
  * form it replaced (`row_number().over(partitionBy(qid).orderBy(cosine
  * desc, vec_id asc)) <= k`) — run HERE, in Spark, so the comparison
  * inherits Spark's own double ordering (nanSafeCompareDoubles: -0.0 ==
  * 0.0, NaN above everything) rather than a re-derivation of it. The
  * cosine pool is deliberately tiny and includes ±0.0, NaN and NULL so
  * rank ties and the double and NULL edge cases occur in nearly every
  * frame (the window keeps a NULL cosine and ranks it last), and k spans
  * under/at/over the group sizes. Rows compare on raw double BITS (a -0.0
  * emitted where the window emits 0.0 would be a real hash divergence,
  * not noise), and a NULL compares apart from 0.0. */
object TopKAggProps extends Properties("TopKAgg") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestSession.spark

  private val cosinePool: Seq[Option[Double]] = None +: Seq(
    -1.0, -0.5, -0.1234, -0.0, 0.0, 0.1234, 0.5, 0.9999, 1.0, Double.NaN).map(Some(_))

  private case class Row3(qid: Long, vecId: Long, cosine: Option[Double])

  private val frameGen: Gen[(Int, List[Row3])] = for {
    k <- Gen.chooseNum(1, 6)
    nq <- Gen.chooseNum(1, 4)
    rows <- Gen.sequence[List[List[Row3]], List[Row3]]((0 until nq).toList.map { q =>
      for {
        n <- Gen.chooseNum(0, 12)
        cs <- Gen.listOfN(n, Gen.oneOf(cosinePool))
      } yield cs.zipWithIndex.map { case (c, i) => Row3(q.toLong, i.toLong, c) }
    })
  } yield (k, rows.flatten)

  property("aggregate top-k equals the window form bit-for-bit") =
    Prop.forAll(frameGen) { case (k, rows) =>
      import spark.implicits._
      val df = rows.map(r => (r.qid, r.vecId, r.cosine))
        .toDF("qid", "vec_id", "cosine")
      val w = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
          Option(r.getAs[java.lang.Double]("cosine"))
            .map(c => java.lang.Double.doubleToRawLongBits(c)))
      val want = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("qid", "rank", "vec_id", "cosine")
        .collect().map(key).sorted.toList
      val got = graft.operators.Similarity.topkByQid(k)(df)
        .collect().map(key).sorted.toList
      if (got != want) {
        println(s"k=$k rows=$rows\n got=$got\nwant=$want")
      }
      got == want
    }
}
