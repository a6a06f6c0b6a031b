package graft.tools

import org.apache.spark.sql.SparkSession

/** The one measurement harness every main in `src/main` shares: the
  * session policy, the timer and formatter, the between-leg hygiene, the
  * PASS/FAIL reporter and the drill floors-file codec. The e2ebench
  * session and the test session are built elsewhere.
  */
private[graft] object Harness {

  /** Local cores: `$SPARK_GRAFT_CPUS` when set, else the host's available
    * processors. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions, UI off, WARN logging.
    * `extraConf` pairs are applied last (a main's state-store provider,
    * `Profile`'s `--conf` experiments). */
  def session(extraConf: (String, String)*): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      // NTZ fixture columns are interpreted in the session zone; pin UTC so
      // every main sees the same instants as Verify/tests on any host (ADVICE r9)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of `f` and its result. */
  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Locale-pinned decimal formatting — a comma-decimal default locale
    * would otherwise emit invalid JSON that a floors reader silently
    * swallows, disabling its gate with no trace. */
  def num(fmt: String, v: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(v))

  /** The drills' three-decimal form of [[num]]. */
  def num(v: Double): String = num("%.3f", v)

  /** Upper median (the middle element for odd sizes). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.length / 2)
  }

  /** Between-leg hygiene: a long-lived drill JVM accumulates pinned
    * localCheckpoint blocks and cached relations from every previous leg,
    * and the round-12 adjudication measured 2-5× inflation on later
    * families from exactly this (steady-state re-profiles in a fresh JVM
    * sat at 1.0-2.7× their floors while the in-drill samples flagged at
    * 5×). Cross-leg state that must survive lives on disk (indexes) or in
    * driver maps (codebooks), never in Spark blocks, so dropping them
    * between legs is safe by design. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** One `[tag] name: PASS|FAIL (detail)` line per check; a smoke or
    * drill main ends with [[exitOnFailure]] so any FAIL exits non-zero. */
  final class Checks(tag: String) {
    private var anyFailed = false
    def apply(name: String, ok: Boolean, detail: String): Unit = {
      println(s"[$tag] $name: ${if (ok) "PASS" else "FAIL"} ($detail)")
      if (!ok) anyFailed = true
    }
    def exitOnFailure(): Unit = if (anyFailed) sys.exit(1)
  }

  /** Codec for the copies-keyed drill floors file
    * `{"copies": N, "families": {name: {a: .., b: ..}}}` with the two
    * per-family field names `fields` (ScaleDrill: `t_big`/`exponent`,
    * ServeDrill: `t_build`/`t_serve`). Families are written sorted with
    * three decimals. The ratchet policy stays with each caller. */
  final case class FloorsFile(fields: (String, String)) {

    /** The families committed at `path` for this `copies` factor; empty
      * when the file is missing, unreadable or keyed by another factor —
      * an ×10 floor must never gate an ×3 run. */
    def read(path: String, copies: Int): Map[String, (Double, Double)] =
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(new java.io.File(path))
        if (root.path("copies").asInt(-1) != copies) Map.empty
        else {
          val it = root.path("families").properties().iterator()
          val b = Map.newBuilder[String, (Double, Double)]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> ((e.getValue.path(fields._1).asDouble(),
              e.getValue.path(fields._2).asDouble()))
          }
          b.result()
        }
      } catch { case _: Throwable => Map.empty }

    def write(path: String, copies: Int,
        families: Map[String, (Double, Double)]): Unit = {
      val body = families.toSeq.sortBy(_._1)
        .map { case (k, (a, b)) =>
          s"""    "$k": {"${fields._1}": ${num(a)}, "${fields._2}": ${num(b)}}""" }
        .mkString(",\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        s"""{\n  "copies": $copies,\n  "families": {\n$body\n  }\n}\n""")
    }
  }
}
