package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized (grp, key, cnt) frames through the string-keyed bounded
  * top-k ([[graft.functions.BoundedTopK]]) against the exact
  * window form `ngram_top_per_source` replaced (r18):
  * `row_number().over(partitionBy(grp).orderBy(cnt desc, key asc)) <= k`,
  * run IN Spark so the tie-break comparison inherits UTF8String's binary
  * ordering. The key pool forces count ties onto string tie-breaks and
  * includes the orderings where UTF-8-byte and UTF-16 comparison
  * DISAGREE (a supplementary-plane codepoint U+10000 vs U+E000-class
  * chars — surrogate pairs order below U+E000 in UTF-16 but above in
  * UTF-8/codepoint order), so a java.lang.String.compareTo tie-break in
  * the aggregate would be caught here, not by a future non-ASCII corpus.
  * The same-pass `sum` is checked against the plain aggregate too (the
  * rewrite computes both in one pass). */
object CountTopKAggProps extends Properties("CountTopKAgg") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestSession.spark

  private val keyPool: Seq[String] = Seq(
    "a", "ab", "b", "ba", "z", "", " ", "0", "é", "éx", "",
    new String(Character.toChars(0x10000)), "éz", "aa a", "zz")

  private val frameGen: Gen[(Int, List[(Long, String, Long)])] = for {
    k <- Gen.chooseNum(1, 5)
    ng <- Gen.chooseNum(1, 3)
    rows <- Gen.sequence[List[List[(Long, String, Long)]], List[(Long, String, Long)]](
      (0 until ng).toList.map { g =>
        for {
          keys <- Gen.someOf(keyPool) // distinct keys per group
          cnts <- Gen.listOfN(keys.size, Gen.chooseNum(1L, 4L)) // tie-heavy
        } yield keys.toList.zip(cnts).map { case (kk, c) => (g.toLong, kk, c) }
      })
  } yield (k, rows.flatten)

  property("count top-k equals the window form, sum rides the same pass") =
    Prop.forAll(frameGen) { case (k, rows) =>
      import spark.implicits._
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("grp", "key", "cnt")
        val w = Window.partitionBy("grp").orderBy(col("cnt").desc, col("key").asc)
        val want = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("grp", "rank", "key", "cnt")
          .collect()
          .map(r => (r.getAs[Long]("grp"), r.getAs[Int]("rank"),
            r.getAs[String]("key"), r.getAs[Long]("cnt")))
          .sorted.toList
        val wantSums = df.groupBy("grp").agg(sum("cnt").as("tot"))
          .collect().map(r => (r.getAs[Long]("grp"), r.getAs[Long]("tot")))
          .sorted.toList
        val tk = graft.functions.BoundedTopK.topK(k, Seq(col("cnt").desc, col("key").asc))
        val agg = df.groupBy("grp")
          .agg(sum("cnt").as("tot"), tk.as("tk"))
        val got = agg
          .select(col("grp"), posexplode(col("tk")).as(Seq("pos", "s")))
          .select(col("grp"), (col("pos") + 1).cast("int").as("rank"),
            col("s._2").as("key"), col("s._1").as("cnt"))
          .collect()
          .map(r => (r.getAs[Long]("grp"), r.getAs[Int]("rank"),
            r.getAs[String]("key"), r.getAs[Long]("cnt")))
          .sorted.toList
        val gotSums = agg.select("grp", "tot")
          .collect().map(r => (r.getAs[Long]("grp"), r.getAs[Long]("tot")))
          .sorted.toList
        if (got != want || gotSums != wantSums) {
          println(s"k=$k rows=$rows\n got=$got\nwant=$want\n gotSums=$gotSums wantSums=$wantSums")
        }
        got == want && gotSums == wantSums
      }
    }
}
