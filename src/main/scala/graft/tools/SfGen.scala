package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ×N corpus generator for the FULL-suite sf1 sweep (VERDICT r11 item 2):
  * upsamples every fixture table — not just the three the scale drill
  * needs — with FK-CONSISTENT key offsets, so every join query keeps its
  * real cardinality shape (an order's copies reference the matching
  * customer copy, a lineitem's copies the matching order/part/supplier
  * copies; join fan-outs grow linearly with the corpus, never ×N²).
  * `region`/`nation` stay single-copy: they are bounded dimension tables
  * in TPC-H and replicating them WOULD bend FK fan-outs quadratic —
  * instead the copies' customers/suppliers keep their original nation
  * keys, exactly how a grown corpus shares a fixed country list.
  *
  * The text/embedding/event tables reuse the `ScalingSlopeSpec`
  * construction (copy-disjoint token vocabularies, circularly shifted
  * embeddings, per-copy user/id offsets) so near-dup structure grows
  * linearly and measured times isolate the algorithm.
  *
  * A tool main: `runMain graft.tools.SfGen <baseDir> <copies> <outDir>`.
  * Writes parquet per table; the output dir is then a drop-in
  * SPARK_GRAFT_SF_DIR for Bench/Verify.
  */
object SfGen {
  private def copied(df: DataFrame, copies: Int): DataFrame =
    df.select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("k"))

  def upsampleAll(spark: SparkSession, base: String, copies: Int,
      out: String): Unit = {
    val C = 10000000L // key offset stride per copy, all tables

    Tables.region(spark, base).write.mode("overwrite")
      .parquet(s"$out/region.parquet")
    Tables.nation(spark, base).write.mode("overwrite")
      .parquet(s"$out/nation.parquet")

    copied(Tables.customer(spark, base), copies)
      .select((col("c_custkey") + col("k") * C).as("c_custkey"),
        concat(col("c_name"), lit("#"), col("k")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    copied(Tables.supplier(spark, base), copies)
      .select((col("s_suppkey") + col("k") * C).as("s_suppkey"),
        concat(col("s_name"), lit("#"), col("k")).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // p_name gets a copy-distinct suffix so the edit-distance families
    // see linear near-dup growth, mirroring the documents construction.
    // The copy digit is TRIPLED (" cpy111", " cpy222", …): single-digit
    // suffixes left every copy's names Levenshtein-1 from its siblings'
    // and the x10 pair mass grew x61 (the first drill run with part
    // families caught it); with >=3 edits between any two suffixes the
    // true pair structure per copy is exactly the base corpus's
    copied(Tables.part(spark, base), copies)
      .select((col("p_partkey") + col("k") * C).as("p_partkey"),
        when(col("k") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit(" cpy"),
            col("k"), col("k"), col("k"))).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    copied(Tables.orders(spark, base), copies)
      .select((col("o_orderkey") + col("k") * C).as("o_orderkey"),
        (col("o_custkey") + col("k") * C).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    copied(Tables.lineitem(spark, base), copies)
      .select((col("l_orderkey") + col("k") * C).as("l_orderkey"),
        (col("l_partkey") + col("k") * C).as("l_partkey"),
        (col("l_suppkey") + col("k") * C).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    copied(Tables.events(spark, base), copies)
      .select((col("event_id") + col("k") * C * 10).as("event_id"),
        col("ts"), (col("user_id") + col("k") * C).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    copied(Tables.documents(spark, base), copies)
      .select((col("doc_id") + col("k") * C).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1w"), col("k")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    copied(Tables.embeddings(spark, base), copies)
      .select((col("vec_id") + col("k") * C).as("vec_id"),
        expr("transform(sequence(0, size(embedding) - 1), " +
          "i -> element_at(embedding, CAST((i + k) % size(embedding) AS INT) + 1))")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else s"/tmp/graft-sf-x$copies"
    val spark = Harness.session()
    val (t, _) = Harness.time(upsampleAll(spark, base, copies, out))
    println(f"[sfgen] x$copies corpus at $out in $t%.1f s")
    spark.stop()
  }
}
