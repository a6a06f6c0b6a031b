package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic primitives.
  *
  * The dedup / LSH operators need hash values that the DuckDB oracle can
  * reproduce exactly. Spark's `hash()` (Murmur3) and DuckDB's `hash()` are
  * different algorithms, so both sides derive integers from `md5` hex
  * prefixes instead:
  *
  *   Spark:  conv(substring(md5(x), 1, n), 16, 10) :: BIGINT
  *   DuckDB: ('0x' || substring(md5(x), 1, n)) :: BIGINT
  *
  * 7 hex chars = 28 bits keeps products with 31-bit multipliers inside a
  * signed 64-bit integer, so (a*h + b) mod p permutation hashing never
  * overflows in either engine.
  */
object Portable {

  /** 28-bit portable hash of a string column (non-negative, < 2^28). */
  def hash28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** DuckDB SQL fragment computing the same 28-bit hash. */
  def hash28Sql(expr: String): String =
    s"(('0x' || substring(md5($expr), 1, 7))::BIGINT)"

  /** JVM-side twin of [[hash28]] — for aggregator internals and
    * plan-build constants that hash outside the Column world (count-min
    * buckets, ANN plane weights). The 28-bit value is read straight off
    * the first 3.5 digest bytes (the same bit-twiddle
    * `SimHashExpression` uses; its equality with the hex-string parse —
    * and hence with the Column/SQL forms — is pinned by
    * `PortableProps`), with a thread-local reused digest so per-row
    * callers pay no allocation or hex formatting.
    */
  def hash28Jvm(s: String): Long = {
    val md = Md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
  }

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Universal-hash permutation family for MinHash: h_j(x) = (a_j*x + b_j) mod p.
    * p = 2^31 - 1 (Mersenne prime); a odd, < 2^31. Fixed constants so Spark
    * and the SQL oracle agree. */
  val MinhashPrime: Long = 2147483647L
  val MinhashPerms: Seq[(Long, Long)] = Seq(
    (1299709L, 104729L), (15485863L, 32452843L), (49979687L, 86028121L),
    (67867967L, 122949823L), (86028157L, 15485867L), (104395301L, 49979693L),
    (122949829L, 67867979L), (141650939L, 86028223L))

  /** Whitespace tokenization shared by all text operators. */
  def tokens(text: Column): Column = split(text, " ")

  /** Normalized-text document fingerprint (md5 of the whitespace-collapsed,
    * trimmed, lowercased `text` column) — THE exact-duplicate identity,
    * shared by `dedup_exact`, `dedup_incremental`, `text_fingerprint`,
    * `corpus_funnel`, `source_mix_report` and `hll_union_sources` so every
    * estimator and dedup key means the same thing; [[docFingerprintSql]] is
    * the DuckDB mirror. */
  def docFingerprint: Column =
    md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))

  val docFingerprintSql: String =
    """md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"""

  /** Word n-gram (shingle) array from a pre-split token-array column.
    * Empty array when the document has fewer than n tokens. Native
    * single-pass expression ([[WordShingles]]): the earlier declarative
    * `transform(sequence(...), i -> concat_ws(" ", w[i..i+n-1]))` evaluated
    * an interpreted lambda with n array lookups per element; the output is
    * byte-identical, so the DuckDB mirror ([[shinglesSql]]) is unchanged. */
  def shingles(w: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(WordShingles(expression(w), n))
  }

  /** DuckDB fragment producing the same n-gram list from column `text`. */
  def shinglesSql(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i + $k]").mkString(" || ' ' || ")
    s"""CASE WHEN len(w) >= $n
       | THEN list_transform(range(1, len(w) - ${n - 2}), i -> $parts)
       | ELSE [] END""".stripMargin.replace("\n", "")
  }
}
