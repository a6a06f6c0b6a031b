package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic synthetic embedding-corpus generator for the semdedup
  * cap-knee drill (VERDICT r16 item 1): the SfGen ×copies fixtures top
  * out at 2M vectors (×1000), but the IVF cell cap first binds at
  * n = cap²/2 ≈ 8.4M — the one load-bearing scale claim with no
  * measurement on its far side. SfGen cannot simply be pushed harder:
  * its circular-shift construction decorrelates at most dims (64)
  * copies, so ×5000 of a 2000-vector base would give every vector ~78
  * EXACT duplicates (copies k and k+64 share a rotation) and the drill
  * would measure duplicate-density growth, not the algorithm.
  *
  * Construction (all xxhash64-derived — no RNG, byte-identical across
  * runs): vector i belongs to cluster c = i mod (n / [[ClusterSize]])
  * and has `emb[j] = 0.4·h(c, j) + 0.917·h'(i, j)` with h, h' uniform
  * in [-1, 1]. Cluster SIZE is fixed (cluster COUNT grows with n): the
  * first VecGen draft fixed the count at 256 and the cap-1024 knee
  * ladder measured past-knee prune exponents of 1.6–1.75 — not the
  * algorithm but the fixture: with fixed count, same-cluster (hence
  * true near-dup) pair mass grows ∝ n², so the pair join's OUTPUT and
  * the dropped-distinct exchange were quadratic by construction. Fixed
  * size makes true dup mass linear in n — the same discipline SfGen's
  * copy-disjoint vocabularies enforce. The 0.4 cluster weight puts the
  * expected same-cluster cosine at ≈ 0.16 with the 0.4 semdedup
  * threshold ~2.3σ out, so near-dup pairs are the upper tail of
  * same-cluster pairs (~1%, ≈ 10 dups per vector — low-but-nonzero
  * density, linear in n). Schema matches the fixture embeddings table
  * exactly (vec_id int64, embedding array<float>, label int32).
  *
  * A tool main: `runMain graft.tools.VecGen <n> <outDir>` writes
  * `<outDir>/embeddings.parquet` — a drop-in corpus dir for the
  * embeddings-only families (semdedup_prune/serve read nothing else).
  */
object VecGen {
  private[graft] val ClusterSize = 1024L

  def write(spark: SparkSession, n: Long, out: String): Unit = {
    val parts = math.max(32, math.min(512, n / 250000L)).toInt
    val clusters = math.max(64L, n / ClusterSize)
    spark.range(0L, n, 1L, parts)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> CAST(" +
          s"0.4 * ((pmod(xxhash64(pmod(id, ${clusters}L), j), 2000001) - 1000000) / 1000000.0) + " +
          "0.917 * ((pmod(xxhash64(id, j, 77), 2000001) - 1000000) / 1000000.0)" +
          " AS FLOAT))").as("embedding"),
        pmod(xxhash64(col("id"), lit(7)), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val out = args(1)
    val spark = Harness.session()
    val (t, _) = Harness.time(write(spark, n, out))
    println(f"[vecgen] $n vectors at $out in $t%.1f s")
    spark.stop()
  }
}
