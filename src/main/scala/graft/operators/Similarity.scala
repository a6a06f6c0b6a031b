package graft.operators

import graft.Tables
import graft.functions.{CentroidAggregator, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (builder north star):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path (candidates
  * only within a bucket — at 1000 executors the bucket id is the shuffle
  * key and each bucket's pairwise work is local).
  *
  * All float math is widened to double before multiplication and every
  * emitted similarity is rounded to 4 dp *before* ranking/thresholding, so
  * the DuckDB oracle (which repeats the identical arithmetic) cannot
  * diverge at a rank or threshold boundary.
  */
object Similarity {

  /** Double-precision cosine between two `array<float>` columns, via the
    * native codegen'd expressions in `graft.functions` (bit-identical to the
    * sequential `aggregate(zip_with(...))` formulation, ~40× faster).
    * Builds the expressions directly through `GraftBridge` — no session
    * registration needed.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(graft.functions.FloatVecDot(expression(a), expression(b))) /
      (column(graft.functions.FloatVecNorm(expression(a))) *
        column(graft.functions.FloatVecNorm(expression(b))))
  }

  private val cosineSqlPQ: String =
    """round(
      |  list_sum(list_transform(range(1, len(p.embedding) + 1),
      |    i -> CAST(p.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |  4)""".stripMargin

  // ------------------------------------------------------- brute force top-k
  /** Exact ANN baseline: for each query vector (vec_id % 100 = 0), the
    * top-5 neighbors by cosine. Rank on (rounded cosine desc, vec_id asc).
    */
  def annBruteforceTopk(s: SparkSession, d: String): DataFrame =
    bruteTopk(Tables.parallelize(s, Tables.embeddings(s, d)), 5)
      .orderBy("qid", "rank")

  /** THE brute-force cosine top-k truth per probe (vec_id % 100 = 0) —
    * one definition of the probe predicate, the 4-dp round-before-rank,
    * and the (cosine desc, vec_id asc) tie-break, shared by the baseline
    * query ([[annBruteforceTopk]], k = 5), the trained-IVF verdict's
    * truth frame ([[annIvfTrainedRecall]], k = 3), and the retrieval
    * enrichment join ([[annDocJoin]], k = 3) — an edit here cannot
    * de-synchronize the three. `e` must carry (vec_id, embedding); extra
    * columns pass through the join unused. Output UNORDERED.
    */
  private def bruteTopk(e: DataFrame, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    // rank ≤ k as a bounded partial aggregate, not a window (r17): the
    // probe×corpus stream reduces to ≤ k rows per probe on the map side,
    // so the qid exchange carries O(panel × k × partitions) rows instead
    // of the full O(panel × corpus) stream it used to shuffle AND sort.
    // Rank equivalence (incl. ±0.0/NaN double semantics) is the
    // [[graft.functions.BoundedTopK]] contract, pinned by TopKAggProps
    // against this very window form.
    q.join(e.select(col("vec_id"), col("embedding")), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qemb"), col("embedding")), 4).as("cosine"))
      .transform(topkByQid(k))
      .select("qid", "rank", "vec_id", "cosine")
  }

  /** The (cosine desc, vec_id asc) order of every cosine rank. */
  private[graft] val ByCosine: Seq[Column] = Seq(col("cosine").desc, col("vec_id").asc)
  /** The (adc asc, vec_id asc) order of every ADC-distance rank. */
  private[graft] val ByAdc: Seq[Column] = Seq(col("adc").asc, col("vec_id").asc)

  /** The shared window→aggregate top-k fold: `row_number().over(
    * partitionBy(qid).orderBy(order: _*)) <= k` as one
    * [[graft.functions.BoundedTopK]] per qid. Out come (qid, carry...,
    * rank, <order keys>..., carried...): `carried` columns ride their own
    * row (a per-candidate cell); `carry` columns are CONSTANT within a qid
    * group (the LSH probe's bucket, a join key) and ride as `min(c)`,
    * which equals that constant. */
  private[graft] def topkByQid(k: Int, order: Seq[Column] = ByCosine,
      carried: Seq[String] = Nil, carry: Seq[String] = Nil)(
      scored: DataFrame): DataFrame = {
    val names = scored.select(order.map(org.apache.spark.sql.GraftBridge.sortKey(_)._1): _*)
      .columns ++ carried
    val aggs = graft.functions.BoundedTopK.topK(k, order, carried.map(col)).as("tk") +:
      carry.map(c => min(col(c)).as(c))
    scored.groupBy("qid")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("qid") +: carry.map(col) :+
        posexplode(col("tk")).as(Seq("pos", "s")): _*)
      .select((col("qid") +: carry.map(col)) ++
        ((col("pos") + 1).cast("int").as("rank") +:
          names.zipWithIndex.map { case (n, i) => col(s"s._${i + 1}").as(n) }): _*)
  }

  val annBruteforceTopkSql: String =
    s"""WITH scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM embeddings p JOIN embeddings q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------- LSH-bucketed
  private val NPlanes = 6

  /** Portable pseudo-random hyperplane weight for (plane p, dim i) in
    * [-1, 1): derived from a 28-bit md5 hash so DuckDB reproduces it. */
  private def planeWeightSql(p: String, i: String): String =
    s"((${Portable.hash28Sql(s"'plane_' || $p || '_' || $i")} % 2000001) / 1000000.0 - 1.0)"

  /** The md5-derived weight for (plane, dim) computed driver-side — same
    * value the oracle derives in SQL, but evaluated 384 times at plan-build
    * instead of ~768k times per pass inside a per-row lambda. */
  private[graft] def planeWeight(p: Int, i: Int): Double =
    (Portable.hash28Jvm(s"plane_${p}_$i") % 2000001L) / 1000000.0 - 1.0

  /** Scale-path ANN: signs of projections onto `nPlanes` fixed pseudo-random
    * hyperplanes form a bucket id; top-3 neighbors are searched only within
    * the query's bucket (may yield fewer than 3 — the recall/cost knob).
    *
    * `nPlanes` is THE scale knob: bucket count is 2^nPlanes, and a
    * deployment sizes it so the expected bucket population stays constant
    * as the corpus grows — nPlanes ≈ log2(corpus / target_bucket_size), a
    * plan-build integer derived from a corpus count, not a fixture
    * constant. The registered query pins the fixtures' value (6 → 64
    * buckets over 5 k vectors ≈ 78/bucket) because the oracle replays the
    * same plane weights; the OperatorSpec "lsh plane count" test drives a
    * non-default count through the same code path (and
    * [[annLshTopkSqlFor]] parameterizes the oracle identically).
    */
  /** Codegen'd double-precision projection of the embedding onto plane `p`
    * — [[FloatVecDotD]] against a directly-constructed literal weight
    * array. Built through [[GraftBridge]] rather than a generated SQL
    * string: a 24-plane signature rendered as SQL is ~30 KB of numeric
    * literals whose parse + analyze + constant-fold cost recurs on every
    * query build (it dominated this family's warm fixture times); direct
    * `Literal` construction makes plan build O(plans), not O(text).
    */
  private def planeDot(p: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val weights = typedLit((1 to 64).map(i => planeWeight(p, i)))
    column(graft.functions.FloatVecDotD(expression(col("embedding")), expression(weights)))
  }

  def annLshTopk(s: SparkSession, d: String, nPlanes: Int = NPlanes): DataFrame = {
    // bucket bit p = sign of sum_i emb[i] * w(p, i); weights are literal
    // DOUBLE arrays (pure constants) driven through the codegen'd vec_dotd —
    // one primitive loop per plane instead of an interpreted per-element
    // lambda, same sequential double accumulation as the oracle
    val bucketExpr = (0 until nPlanes)
      .map(p => when(planeDot(p) >= 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .withColumn("bucket", bucketExpr.cast("long"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("bucket"))
    // rank ≤ 3 via the bounded partial aggregate (see [[topkByQid]]);
    // bucket is the join key, hence constant per qid, and rides as carry
    q.join(e, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("bucket"), col("vec_id"),
        round(cosine(col("qemb"), col("embedding")), 4).as("cosine"))
      .transform(topkByQid(3, carry = Seq("bucket")))
      .select("qid", "bucket", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  /** The oracle parameterized the same way as the operator. */
  def annLshTopkSqlFor(nPlanes: Int): String = {
    val bucketSql = (0 until nPlanes).map { p =>
      val dot =
        s"""list_sum(list_transform(range(1, len(embedding) + 1),
           |  i -> CAST(embedding[i] AS DOUBLE) * ${planeWeightSql(s"'$p'", "i")}))""".stripMargin
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket FROM embeddings),
       |scored AS (
       |  SELECT p.vec_id AS qid, p.bucket AS bucket, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM b p JOIN b q ON p.bucket = q.bucket AND q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, bucket, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, bucket, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  val annLshTopkSql: String = annLshTopkSqlFor(NPlanes)

  // ------------------------------------------------- embedding LSH dedup
  /** Band structure for [[dedupEmbeddingLsh]]: [[DedupBands]] bands of
    * [[DedupBandPlanes]] hyperplane sign bits each (planes drawn from the
    * same portable md5-derived family as [[annLshTopk]]). A pair is a
    * candidate iff SOME band's bits all agree — the standard banded-LSH
    * amplification, sized here for the fixtures' unusually weak near-dup
    * regime (the exact sibling's threshold is cosine 0.4 ≈ 63°, where a
    * single plane agrees only ~65% of the time → 3-bit bands × 8 keeps
    * fixture recall ≥ 0.9). A production near-dup bar of cosine ≥ 0.9
    * (≈ 26°) makes the same bands ≥ 0.99-recall while pruning ~100× —
    * band width is the knob, exactly like `nPlanes` on [[annLshTopk]].
    */
  private[operators] val DedupBandPlanes = 3
  private[operators] val DedupBands = 8

  /** Band `b`'s signature: [[DedupBandPlanes]] projection signs packed into
    * an int. Weights are plan-time DOUBLE literals fed to the codegen'd
    * `vec_dotd` (see [[planeDot]]) — the signature stage is the hot path
    * of the designated 100 TB embedding-dedup route, so it must not pay
    * the interpreted higher-order-function tax per plane per row. */
  private def bandSigExpr(b: Int): Column =
    (0 until DedupBandPlanes)
      .map { j =>
        val p = b * DedupBandPlanes + j
        when(planeDot(p) >= 0, lit(1 << j)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** The signed/packed signature frame shared by [[dedupEmbeddingLsh]] (and
    * its profiling harness): per row, the 8 band signatures plus all of
    * them packed 3 bits each into one long — the emit-once check on a
    * candidate pair becomes integer ops on one XOR instead of an
    * interpreted per-element array comparison, and it runs once per band
    * COLLISION (the scale-dominant count), so it must codegen.
    */
  private[graft] def embeddingSigs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm"),
        array((0 until DedupBands).map(b => bandSigExpr(b).cast("int")): _*).as("sigs"))
      .withColumn("sigpack",
        (0 until DedupBands).map(b =>
          col("sigs").getItem(b).cast("long") * (1L << (DedupBandPlanes * b)))
          .reduce(_ + _))
  }

  /** Embedding near-dup pairs via banded hyperplane LSH — the scale sibling
    * of `dedup_embedding` (which is the declared quadratic baseline): the
    * pair join keys on (band, bandsig), so pairwise cosine work is
    * proportional to band collisions, never corpus². Emit-once: a pair is
    * produced only at its FIRST agreeing band (lowest all-zero 3-bit group
    * of the XOR of the packed signatures — integer ops, no per-element
    * array walk), so multi-band collisions never need a distinct.
    *
    * The candidate join is probe-fat / build-LEAN: the probe side keeps
    * its vector through the 8-way band explode (stream-side columns are
    * free in a hash-join match loop — never copied per match), while the
    * BUILD side carries only (vec_id, band, sig, sigpack) — 32-byte
    * integer rows — and its vectors are re-fetched by id for the
    * emit-once SURVIVORS only. So the highest-multiplicity stage (band
    * collisions) iterates a lean hash relation, and each build vector
    * crosses the wire once per surviving pair, not once per band. At
    * fixture scale both builds fit the broadcast threshold and the whole
    * query is one codegen stage with zero pre-sort exchanges; at 100 TB
    * AQE degrades the same plan to shuffle joins keyed on (band, sig)
    * and vec_id — nothing is forced. Output schema/threshold match
    * `dedup_embedding`, so recall is directly measurable — the
    * OperatorSpec asserts pairs ⊆ exact pairs and recall ≥ 0.9 on the
    * fixtures.
    *
    * Measured honesty (sf0.1 fixture, 2000 vectors): the 0.4 cosine
    * threshold sits in sign-LSH's dead zone. Background pairs are
    * near-orthogonal (94% below cosine 0.2 → ~50% per-plane agreement)
    * while threshold pairs agree on only ~63% of planes, and no (bits,
    * bands) config amplifies that gap: 3 bits × 8 bands collides on 64.8%
    * of ALL pairs at recall 0.91; every wider config that prunes harder
    * (5×12: 33%, 6×10: 15%) drops recall to 0.74 / 0.49 — measured over
    * raw AND median-centered planes, identical. So at fixture scale this
    * variant evaluates ~0.65× the baseline's cosines plus join machinery
    * and lands within ~1.1× of the quadratic baseline's wall time; its
    * value is the shape (collision-proportional work, bounded per-task
    * memory), not a fixture-scale speedup. A corpus whose near-dups sit
    * at cosine ≥ 0.8 (real dedup practice) puts per-plane agreement at
    * ~0.85+ where 8-bit bands prune >90% of pairs at recall ≥ 0.99 —
    * band width per deployment threshold is THE tuning knob.
    */
  /** The emit-once band-collision candidate pairs (vec_a, emb_a, nrm_a,
    * vec_b) of the hyperplane LSH, BEFORE any cosine evaluation — the
    * probe-fat/build-lean stage [[dedupEmbeddingLsh]] rescored, shared
    * with [[embeddingLshCandidateCount]] so the slope measurement and the
    * production query are the same plan by construction. */
  private def embeddingLshCandidates(s: SparkSession, d: String): DataFrame = {
    val e = embeddingSigs(s, d)
    val probe = e.select(col("vec_id"), col("embedding"), col("nrm"), col("sigpack"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    val build = e.select(col("vec_id"), col("sigpack"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    // first agreeing band of a pair = lowest all-zero 3-bit group of the XOR
    val firstAgree = expr(
      (0 until DedupBands).map(b =>
        s"WHEN (shiftright(p.sigpack ^ q.sigpack, ${DedupBandPlanes * b}) & " +
          s"${(1 << DedupBandPlanes) - 1}) = 0 THEN $b")
        .mkString("CASE ", " ", " ELSE -1 END"))
    probe.as("p").join(build.as("q"),
        col("p.band") === col("q.band") && col("p.sig") === col("q.sig"))
      .filter(col("p.vec_id") < col("q.vec_id") && firstAgree === col("p.band"))
      .select(col("p.vec_id").as("vec_a"), col("p.embedding").as("emb_a"),
        col("p.nrm").as("nrm_a"), col("q.vec_id").as("vec_b"))
  }

  /** Band-collision candidate-pair count — the pairwise work the rescore
    * stage pays, counted off the SAME [[embeddingLshCandidates]] stage the
    * production query plans (ScalingSlopeSpec two-point growth
    * measurement). With 3-bit bands (8 buckets per band) collision counts
    * grow ≈ n²/2³ per band at fixed width — the banding economics the
    * [[dedupEmbeddingLsh]] scaladoc documents; production scaling widens
    * bands with log n. */
  private[graft] def embeddingLshCandidateCount(s: SparkSession, d: String): Long =
    embeddingLshCandidates(s, d).count()

  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val e = embeddingSigs(s, d)
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dot = column(graft.functions.FloatVecDot(
      expression(col("emb_a")), expression(col("emb_b"))))
    embeddingLshCandidates(s, d).join(eb, "vec_b")
      .withColumn("cosine", round(dot / (col("nrm_a") * col("nrm_b")), 4))
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  /** Oracle: any-band agreement (OR over band signatures) + the identical
    * cosine/threshold — set-equal to the Spark side's first-band emit. */
  val dedupEmbeddingLshSql: String = {
    def sigSql(b: Int): String = (0 until DedupBandPlanes).map { j =>
      val p = b * DedupBandPlanes + j
      val dot =
        s"""list_sum(list_transform(range(1, len(embedding) + 1),
           |  i -> CAST(embedding[i] AS DOUBLE) * ${planeWeightSql(s"'$p'", "i")}))""".stripMargin
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val sigCols = (0 until DedupBands).map(b => s"(${sigSql(b)}) AS s$b").mkString(",\n    ")
    val orCond = (0 until DedupBands).map(b => s"p.s$b = q.s$b").mkString(" OR ")
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |    $sigCols
       |  FROM embeddings)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT p.vec_id AS vec_a, q.vec_id AS vec_b, $cosineSqlPQ AS cosine
       |  FROM s p JOIN s q ON p.vec_id < q.vec_id AND ($orCond))
       |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin
  }

  // ------------------------------------------------------- IVF
  /** Floor on the IVF coarse-codebook size — the historical fixed k, and
    * still the value every test SF lands on (n = 500 and n = 2000 both
    * resolve to 8 under [[ivfCells]]), so fixture-calibrated recall and
    * co-cluster floors are measured against exactly the cells they were
    * calibrated on. */
  private[graft] val IvfMinCells = 8

  /** Target mean cell occupancy in the bounded-occupancy regime of
    * [[ivfCells]]. */
  private[graft] val IvfTargetCell = 250

  /** Adaptive IVF codebook size (VERDICT r11 item 1 — the one latent
    * quadratic): a FIXED k means cell occupancy grows linearly with the
    * corpus and every within-cell O(occupancy²) pass (SemDeDup's prune,
    * IVF serving's per-cell scan) bends quadratic at scale. Two regimes,
    * joined at n = 2·[[IvfTargetCell]]²:
    *
    *   - `ceil(n / target)` — bounded occupancy (≈ target) while the
    *     codebook is still small; within-cell work is n·target = linear,
    *     and the n·k assignment term is the smaller one;
    *   - `ceil(sqrt(2n))` — once `n/target` would exceed `sqrt(2n)`
    *     (n > 2·target² = 125k at target 250), k grows as √n instead:
    *     the classic IVF balance point where assignment (n·k) and
    *     within-cell scan (n²/k) are both Θ(n^1.5) — minimizing total
    *     dot-products; occupancy and codebook now grow together.
    *
    * `min` of the two picks whichever regime is cheaper, `max` with the
    * floor keeps the historical k = 8 on small corpora, and
    * [[IvfMaxCells]] CAPS the √-growth (VERDICT r15 item 2): an unbounded
    * k = √(2n) keeps the n·k assignment and the k-means training passes
    * growing as n^1.5 forever — the measured semdedup exponent drift
    * (0.56 @ ×100 → 0.73 @ ×300). Past the cap point (n = cap²/2 ≈ 8.4M)
    * assignment cost and driver codebook memory stay FIXED at n·cap while
    * mean occupancy resumes growing ∝ n/cap. The r17 knee drill measured
    * what that occupancy growth does to the within-cell pair pass — local
    * exponents 1.35 → 1.68 → 1.85 at 2/4/8× the (moved) knee, heading to
    * quadratic, NOT the "within-cell term stays small" hand-wave this
    * scaladoc previously carried — which is why hot cells now get the
    * [[subSplitPlan]] residual sub-split (the two-level coarse quantizer,
    * engaged per-cell past the cap): measured past-knee exponents drop to
    * 0.56–0.86 and the 8×-knee rung runs 3.9× faster. A corpus decades
    * past even that shards by key range, composing from this operator
    * unchanged. Mirrored verbatim in SQL by
    * [[ivfCellsSql]] so the untrained-IVF oracles stay engine-portable at
    * any SF. */
  private[graft] def ivfCells(n: Long): Int = {
    val byOcc = math.ceil(n.toDouble / IvfTargetCell)
    val bySqrt = math.ceil(math.sqrt(2.0 * n.toDouble))
    math.min(IvfMaxCells.toDouble,
      math.max(IvfMinCells.toDouble, math.min(byOcc, bySqrt))).toInt
  }

  /** Ceiling on the adaptive codebook ([[ivfCells]] scaladoc): 4096 cells
    * × 64 floats ≈ 1 MB broadcast, and the cap first binds at n = cap²/2
    * ≈ 8.4M vectors. `SPARK_GRAFT_IVF_MAX_CELLS` overrides it — the
    * KneeDrill knob that moves the knee into cheap territory (cap 1024 →
    * knee at 524k vectors) so the two-regime shape (√-growth below,
    * linear assignment above) is measurable in minutes on the SAME code
    * path before paying for the full-cap measurement past 8.4M. The SQL
    * mirror [[ivfCellsSql]] interpolates this val at init, so oracles
    * follow the override consistently. Never set outside a drill. */
  private[graft] val IvfMaxCells: Int =
    sys.env.get("SPARK_GRAFT_IVF_MAX_CELLS").map { v =>
      scala.util.Try(v.trim.toInt).toOption.filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_IVF_MAX_CELLS must be a positive int, got '$v'"))
    }.getOrElse(4096)

  /** DuckDB mirror of [[ivfCells]] over the `embeddings` table — a scalar
    * subquery, so the SQL oracles compute the SAME adaptive k the Spark
    * side does at any corpus size. */
  private val ivfCellsSql: String =
    s"(SELECT CAST(least($IvfMaxCells, greatest($IvfMinCells, " +
      s"least(ceil(count(*) / $IvfTargetCell.0), " +
      s"ceil(sqrt(2.0 * count(*)))))) AS BIGINT) FROM embeddings)"

  /** IVF-style ANN: vectors are assigned to the coarse cell whose centroid
    * they are most cosine-similar to; queries search only their own cell.
    * Centroids here are the first [[ivfCells]]-of-n vectors — a deterministic
    * stand-in for a trained k-means codebook (training would be a separate
    * offline job at scale; the *serving* shape — broadcast centroids, one
    * narrow assignment pass, shuffle keyed by cell — is what this operator
    * demonstrates). Assignment and ranking use rounded similarities so the
    * DuckDB oracle agrees at every argmax boundary.
    */
  def annIvfTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
    val k = ivfCells(Tables.embeddings(s, d).count())
    // Literal-centroid argmax when the codebook is codegen-sized (every
    // fixture SF) — the [[assignCells]] shape applied to the UNTRAINED
    // first-k codebook (r17): the first-k centroid rows are a bounded
    // driver collect (the codebook class), and the assignment becomes one
    // narrow projection instead of a broadcast n×k fan-out + a
    // (vec_id)-exchange + sort window. Value-identical by construction:
    // the struct carries the ROUNDED 6-dp sim — greatest(struct(sim,
    // -cid)) is exactly the window's (round-6 csim desc, cid asc)
    // argmax, and lit(cnorm) is the same left-to-right double sum
    // `vec_norm` computes. Large adaptive k keeps the join+window form
    // (the [[LiteralAssignMaxCells]] janino bound).
    val assigned =
      if (k <= LiteralAssignMaxCells) {
        val cents = ivfSeedCents(s, d, k)
        val sims = cents.map { case (cid, emb) =>
          val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
          val dot = expr(
            s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
          struct(round(dot / (col("nrm") * lit(cnorm)), 6).as("sim"),
            lit(-cid).as("negc"))
        }
        val g = if (sims.size == 1) sims.head else greatest(sims: _*)
        e.select(col("vec_id"), col("embedding"), col("nrm"),
          (g.getField("negc") * -1).as("cell"))
      } else {
        val cents = e.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("csim").desc, col("cid").asc)
        e.join(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
            round(expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm")), 6).as("csim"))
          .withColumn("arn", row_number().over(wAssign))
          .filter(col("arn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cid").as("cell"))
      }
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    val wRank = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    q.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"),
        round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select("qid", "cell", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  val annIvfTopkSql: String = {
    val cosPC =
      """round(
        |  list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.cemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |  6)""".stripMargin
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < $ivfCellsSql),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT v.vec_id, v.embedding, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY $cosPC DESC, c.cid) AS arn
       |    FROM embeddings v CROSS JOIN cents c)
       |  WHERE arn = 1),
       |scored AS (
       |  SELECT p.vec_id AS qid, p.cell AS cell, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM assigned p JOIN assigned q ON p.cell = q.cell AND q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, cell, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, cell, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** The untrained first-k "codebook" of [[annIvfTopk]]/[[annIvfNprobeTopk]]
    * as driver rows — the bounded k×64 collect class, shared so both
    * queries collect the identical seed set. cid keeps the raw vec_id
    * (the registered queries expose it as `cell`). */
  private def ivfSeedCents(s: SparkSession, d: String,
      k: Int): Seq[(Long, Array[Float])] =
    Tables.embeddings(s, d).filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").toArray))
      .sortBy(_._1).toSeq

  /** IVF with multi-cell probing (`nprobe = 2`) — THE recall/latency knob
    * of IVF serving: each query searches its two nearest coarse cells
    * instead of one, so a query sitting near a cell boundary still finds
    * neighbors assigned to the adjacent cell. Corpus vectors keep exactly
    * one cell, so probing two cells cannot duplicate a candidate; the
    * candidate set just grows ∝ nprobe (work per query = nprobe × mean
    * cell population — corpus size never enters). The OperatorSpec pins
    * the monotonicity this knob exists for: recall@3 against the
    * brute-force truth is >= the single-probe query's on the fixtures.
    */
  def annIvfNprobeTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
    val k = ivfCells(Tables.embeddings(s, d).count())
    // literal fast path — see the [[annIvfTopk]] note: sort_array over
    // (round-6 sim, -cid) structs descending IS the window's (csim desc,
    // cid asc) ranking, so element 1 = arn 1 and slice(…, 1, 2) = arn ≤ 2
    val (corpus, probes) =
      if (k <= LiteralAssignMaxCells) {
        val cents = ivfSeedCents(s, d, k)
        val sims = cents.map { case (cid, emb) =>
          val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
          val dot = expr(
            s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
          struct(round(dot / (col("nrm") * lit(cnorm)), 6).as("sim"),
            lit(-cid).as("negc"))
        }
        val sorted = sort_array(array(sims: _*), asc = false)
        val corpusL = e.select(col("vec_id"), col("embedding"), col("nrm"),
          (element_at(sorted, 1).getField("negc") * -1).as("cell"))
        val probesL = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            col("nrm").as("qnrm"),
            explode(slice(sorted, 1, 2)).as("top"))
          .select(col("qid"), col("qemb"), col("qnrm"),
            (col("top").getField("negc") * -1).as("cell"))
        (corpusL, probesL)
      } else {
        val cents = e.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("csim").desc, col("cid").asc)
        val ranked = e.join(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
            round(expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm")), 6).as("csim"))
          .withColumn("arn", row_number().over(wAssign))
        (ranked.filter(col("arn") === 1)
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cid").as("cell")),
         ranked.filter(col("arn") <= 2 && col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            col("nrm").as("qnrm"), col("cid").as("cell")))
      }
    val wRank = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    probes.join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  val annIvfNprobeTopkSql: String = {
    val cosPC =
      """round(
        |  list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.cemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |  6)""".stripMargin
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < $ivfCellsSql),
       |cellranks AS (
       |  SELECT v.vec_id, v.embedding, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY $cosPC DESC, c.cid) AS arn
       |  FROM embeddings v CROSS JOIN cents c),
       |corpus AS (
       |  SELECT vec_id, embedding, cid AS cell FROM cellranks WHERE arn = 1),
       |probes AS (
       |  SELECT vec_id, embedding, cid AS cell FROM cellranks
       |  WHERE arn <= 2 AND vec_id % 100 = 0),
       |scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM probes p JOIN corpus q ON p.cell = q.cell AND q.vec_id <> p.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  // ------------------------------------------------------- trained IVF
  private val KmeansRounds = 3

  /** Round cap when training on a bounded sample (n > KmeansTrainSample):
    * sampled rounds cost O(sample·k) — at the ×300 drill ~1/15 of a full
    * round — so the sampled path can afford the extra iterations that
    * buy back clustering BALANCE. Balance is not cosmetic there: the
    * within-cell prune is Σ occupancy² per cell, and the r15 A/B
    * (SPARK_GRAFT_KMEANS_SAMPLE override) measured a 3-round sampled
    * codebook serving 39% slower than the full-corpus one on identical
    * serving code — noisy sample means had left hot cells behind. */
  private val KmeansRoundsSampled = 8

  /** Assign every vector to its nearest codebook cell (cosine argmax,
    * ties → lower cell id) as ONE narrow projection: the codebook is
    * driver-held, so each centroid becomes a literal float array and the
    * argmax a `greatest` over (sim, -cid) structs — no join, no window, no
    * shuffle, the cheapest possible IVF assignment pass (same pattern as
    * the LSH plane-weight literals).
    */
  /** Codebook size beyond which the literal-`greatest` assignment
    * projection is abandoned for a broadcast-join argmax. k literal
    * 64-float centroid arrays in ONE expression tree stop being
    * codegen-friendly in the hundreds (janino method-size limits force
    * interpreted fallback — the PqExpressions lesson), while the join
    * form scales to any k the driver can hold: candidates are built by a
    * broadcast nested-loop against the k-row centroid frame and reduced
    * by a map-side-combining `max(struct(sim, -cid, ...))` — the shuffle
    * stays at n rows (one winner per vector), never n×k. Every test SF
    * resolves to k = 8 and keeps the literal fast path; the adaptive
    * sizes the scale drill exercises (k ≥ 80) take the join path. */
  private val LiteralAssignMaxCells = 64

  /** The codebook as a broadcastable (cid, cemb, cnrm) frame — cnrm
    * precomputed in the SAME double arithmetic the literal path folds
    * into `lit(cnorm)`, so both paths score identical sims. */
  private def centsFrame(s: SparkSession,
      codebook: Seq[(Int, Array[Float])]): DataFrame = {
    import s.implicits._
    codebook.map { case (cid, emb) =>
      (cid, emb.toSeq, math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum))
    }.toDF("cid", "cemb", "cnrm")
  }

  private[graft] def assignCells(e: DataFrame,
      codebook: Seq[(Int, Array[Float])]): DataFrame =
    if (codebook.size <= LiteralAssignMaxCells) {
      val sims = codebook.map { case (cid, emb) =>
        val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
        val dot = expr(
          s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
        struct((dot / (col("nrm") * lit(cnorm))).as("sim"), lit(-cid).as("negc"))
      }
      // csim (the winning cell's cosine) rides along for consumers that
      // need centroid typicality (semdedup's keep rule); cell-only
      // consumers project it away and Catalyst prunes the extra column
      val g = greatest(sims: _*)
      e.select(col("vec_id"), col("embedding"), col("nrm"),
        (g.getField("negc") * -1).as("cell"), g.getField("sim").as("csim"))
    } else {
      // large-k path (r15): ONE native argmax expression per row over the
      // driver-held codebook — the previous broadcast-join + max(struct)
      // reduction materialized n×k candidate ROWS (7.35 billion at the
      // ×300 drill), and per-row plumbing, not dot-product arithmetic,
      // was the measured dominant term of every big-k family. CellArgmax
      // reproduces the join path's values and (sim desc, cid asc)
      // tie-break term for term; the relation never leaves n rows and
      // nothing is joined at all. The struct lands behind ONE alias
      // (CollapseProject won't inline a non-cheap alias used twice, so
      // the loop runs once per row).
      import org.apache.spark.sql.GraftBridge.{column, expression}
      val w = column(graft.functions.CellArgmax(
        expression(col("embedding")), expression(col("nrm")), codebook.toArray))
      e.select(col("vec_id"), col("embedding"), col("nrm"), w.as("w"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("w.cell").as("cell"), col("w.csim").as("csim"))
    }

  /** Top-2 cell assignment against a driver-held codebook — the probe-side
    * companion of [[assignCells]] for nprobe = 2 serving: same literal
    * centroid arrays, one narrow projection, the two best cells read off a
    * sorted (sim, -cid) struct array (descending struct order = sim desc,
    * cid asc — the exact [[assignCells]] argmax tie-break, extended to
    * second place). */
  private[graft] def assignCellsTop2(e: DataFrame,
      codebook: Seq[(Int, Array[Float])]): DataFrame =
    if (codebook.size <= LiteralAssignMaxCells) {
      val sims = codebook.map { case (cid, emb) =>
        val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
        val dot = expr(
          s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
        struct((dot / (col("nrm") * lit(cnorm))).as("sim"), lit(-cid).as("negc"))
      }
      val sorted = sort_array(array(sims: _*), asc = false)
      e.select(col("vec_id"), col("embedding"), col("nrm"),
        (element_at(sorted, 1).getField("negc") * -1).as("cell1"),
        (element_at(sorted, 2).getField("negc") * -1).as("cell2"))
    } else {
      // large-k probe-side path: collect_list is bounded at k (sim, negc)
      // structs per PROBE — probes are a small slice of the corpus, and
      // the payload embedding is NOT replicated into the list (it rides
      // as first(), identical across a key's candidate rows)
      val sk = struct(
        (expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm"))).as("sim"),
        (-col("cid")).as("negc"))
      e.join(broadcast(centsFrame(e.sparkSession, codebook)))
        .select(col("vec_id"), col("embedding"), col("nrm"), sk.as("sk"))
        .groupBy("vec_id").agg(
          sort_array(collect_list(col("sk")), asc = false).as("sks"),
          first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          (element_at(col("sks"), 1).getField("negc") * -1).as("cell1"),
          (element_at(col("sks"), 2).getField("negc") * -1).as("cell2"))
    }

  /** Top-n cell assignment EXPLODED to one row per (vector, cell) — the
    * nprobe-n probe side for the grown-serve joins: same literal/broadcast
    * split and the same (sim desc, cid asc) struct-order tie-break as
    * [[assignCells]]/[[assignCellsTop2]]; n = 1 delegates to the argmax
    * path so default-nprobe callers keep their exact historical plans. A
    * corpus vector lives in exactly one cell, so an n-cell probe never
    * yields duplicate (probe, candidate) rows downstream. */
  private[graft] def assignCellsTopN(e: DataFrame,
      codebook: Seq[(Int, Array[Float])], n: Int): DataFrame =
    if (n <= 1)
      assignCells(e, codebook).select("vec_id", "embedding", "nrm", "cell")
    else {
      val sorted = if (codebook.size <= LiteralAssignMaxCells) {
        val sims = codebook.map { case (cid, emb) =>
          val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
          val dot = expr(
            s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
          struct((dot / (col("nrm") * lit(cnorm))).as("sim"), lit(-cid).as("negc"))
        }
        e.select(col("vec_id"), col("embedding"), col("nrm"),
          slice(sort_array(array(sims: _*), asc = false), 1, n).as("top"))
      } else {
        val sk = struct(
          (expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm"))).as("sim"),
          (-col("cid")).as("negc"))
        e.join(broadcast(centsFrame(e.sparkSession, codebook)))
          .select(col("vec_id"), col("embedding"), col("nrm"), sk.as("sk"))
          .groupBy("vec_id").agg(
            slice(sort_array(collect_list(col("sk")), asc = false), 1, n).as("top"),
            first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("top"))
      }
      sorted
        .select(col("vec_id"), col("embedding"), col("nrm"),
          explode(col("top")).as("t"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          (col("t.negc") * -1).as("cell"))
    }

  /** IVF with a TRAINED codebook: a few distributed k-means iterations
    * (assign → per-cell mean via the mergeable [[CentroidAggregator]] →
    * collect the k×64 codebook), then the same serving shape as
    * [[annIvfTopk]]. The driver holds ONLY the codebook — k×64 doubles per
    * round, independent of corpus size; every per-vector pass is a
    * broadcast-join assignment, and the input is localCheckpoint'd once so
    * the repeated passes re-read a materialized frame, not the scan
    * lineage. Cells that lose all members keep their previous centroid.
    *
    * No SQL oracle (k-means iterations are not reasonably expressible in
    * DuckDB): the contract is the recall spec in `OperatorSpec` — trained
    * cells must recall brute-force top-3 neighbors at least as well as the
    * untrained first-k codebook.
    */
  /** The distributed k-means training loop shared by the in-memory query
    * ([[annIvfTrainedTopk]]) and the persisted index builder
    * ([[writeAnnIndex]]). Deterministic seeds (the first k vectors, what
    * the untrained variant serves with — k-means can only improve on
    * them) + epsilon stopping: quit early once no centroid moves more
    * than 0.1% of its own norm in a round — at corpus scale each round is
    * a full pass, so a settled codebook should not buy three of them.
    * The driver holds ONLY the codebook (k×64 doubles per round).
    */
  /** Per-JVM codebook cache — the `dedupIncrementalIndexed` build-once
    * discipline applied to k-means: training is DETERMINISTIC (fixed
    * seeds, fixed round cap, content-identical input per (corpus,
    * variant) key), so re-training inside every trained-family query of
    * one session recomputes byte-identical centroids. The first caller
    * per key pays the training passes (Bench's cold pass, exactly like
    * the dedup index build); warm passes measure serving. Keys carry the
    * corpus dir plus a variant tag because the nrm>0-guarded queries
    * train on a (potentially) different row set than the unguarded ones. */
  private val trainedCodebooks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Array[Float])]]

  /** Content stamp of a corpus dir's embeddings table (file count, total
    * bytes, newest mtime) — folded into every codebook cache key so a
    * corpus REWRITTEN at the same path within one JVM is retrained, not
    * served a stale codebook (review finding: the dir-only key silently
    * survived an overwrite). One driver-side FS listing, no data read. */
  // ONE definition of the file-metadata stamp with the model-manifest
  // staleness check — a format change cannot diverge the codebook cache
  // key from the manifest fingerprint
  private def corpusStamp(s: SparkSession, d: String): String =
    graft.models.ModelManifest.corpusFingerprint(s, d, Seq("embeddings"))
  private val codebookLock = new Object
  private def trainCodebookCached(e: => DataFrame,
      key: String, kOverride: Option[Int] = None): Seq[(Int, Array[Float])] =
    // e is by-name: a cache hit never builds (or checkpoints) the
    // training frame at all
    codebookLock.synchronized {
      trainedCodebooks.getOrElseUpdate(key, trainCodebook(e, kOverride))
    }

  /** Iteration-pass sample bound for [[trainCodebook]] (VERDICT r15
    * item 2 — the semdedup family's measured exponent drift): k-means
    * UPDATE passes don't need the whole corpus, they need enough members
    * per cell to estimate means (~50 per cell at k = 4096). Corpora at or
    * under the bound train on everything (every oracle fixture and the
    * sf0.1 base — codebooks there stay byte-identical to the unsampled
    * build); above it the iteration passes run over a deterministic
    * hash-slice of ~this many vectors, so training cost is O(sample · k)
    * per round — bounded — and the FULL corpus pays exactly one n·k
    * assignment pass (the serving/prune pass it pays anyway).
    * `SPARK_GRAFT_KMEANS_SAMPLE` overrides the bound — a drill knob for
    * A/B-ing sampled vs full training cost/quality at big fixtures. */
  private[graft] val KmeansTrainSample: Long =
    sys.env.get("SPARK_GRAFT_KMEANS_SAMPLE").map { v =>
      // this runs at object init, so a bad value still surfaces as an
      // ExceptionInInitializerError — the explicit parse buys the CAUSE
      // message naming the env var (a raw NumberFormatException's "For
      // input string" names nothing), not a different exception site.
      // Non-positive values are rejected too: a zero/negative bound would
      // make the sample-step ceil division nonsensical downstream.
      scala.util.Try(v.trim.toLong).toOption.filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_KMEANS_SAMPLE must be a positive long, got '$v'"))
    }.getOrElse(200000L)

  private def trainCodebook(e: DataFrame,
      kOverride: Option[Int] = None): Seq[(Int, Array[Float])] = {
    // adaptive k (see ivfCells): one count() on the (checkpointed)
    // training frame sizes the codebook before seeding; the count is the
    // cheapest pass the training loop makes. k is sized by the FULL
    // corpus even when iteration runs sampled — cell capacity serves n
    // vectors, not the sample. kOverride bypasses the adaptive rule for
    // codebooks whose size is an input, not a function of n — the
    // residual SUB-codebook of [[subSplitPlan]], sized by occupancy.
    val n = e.count()
    val k = kOverride.getOrElse(ivfCells(n))
    // deterministic hash-slice (xxhash64 % step), not vec_id % step: id
    // ranges are not dense on sliced corpora (the grow-serve history
    // split), and a modulo of sparse ids can under- or over-sample. The
    // slice is checkpointed — each k-means round re-reads ~sample rows,
    // never re-filters the corpus.
    // Below the sample bound the training frame IS the input frame, and
    // the seed take + every k-means round re-read it (~10 cold scans —
    // the +0.8 s cold-pass semdedup uptick VERDICT r15 item 7 flagged).
    // Deliberately NOT cached/checkpointed: an r16 A/B at ×100 (200k
    // vectors — exactly the regime that bites) measured the cached
    // variant at 31.8 s vs 16.5 s scan-backed, because cached rows
    // deserialize their float arrays and the assignment kernel loses
    // whole-stage codegen — the same 4-5× effect the serving passes
    // documented. The cold re-scan is the cheaper side of the trade at
    // every scale: warm re-scans ride the page cache + codegen.
    val train =
      if (n <= KmeansTrainSample) e
      else e.filter(pmod(xxhash64(col("vec_id")),
          lit(math.ceil(n.toDouble / KmeansTrainSample).toLong)) === lit(0L))
        .localCheckpoint()
    // seeds = the first k ROWS of the training frame by vec_id (a
    // deterministic TakeOrderedAndProject), NOT `vec_id < k`: on a SLICED
    // training corpus (the grow-serve history split, a shadow-retrain
    // candidate) the id-predicate silently under-seeds — at the fixtures
    // a third of ids < k are arrivals, so the "k = 8" codebook really had
    // 5 cells, and the k-aware recall floor sat one part in 1e4 above the
    // measured sf0.1 recall (caught by a full sf0.1 oracle sweep). On an
    // unsliced corpus the two seedings pick identical rows, so every
    // full-corpus codebook (trained IVF, persisted index, semdedup) is
    // byte-identical to before. Codebooks on corpora with >= k vectors
    // now always have exactly k cells.
    // cids are the seeds' ROW INDEX (0..k-1), not a truncated vec_id: on
    // a corpus whose smallest vec_ids exceed Int range (or collide after
    // .toInt truncation) id-derived cids would silently merge centroids
    // in the kmeans update map. Relabeling is assignment-invariant —
    // assignCells partitions by argmax centroid similarity, which does
    // not depend on the label values, only on their distinctness.
    var codebook: Seq[(Int, Array[Float])] = train
      .orderBy("vec_id").limit(k).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getAs[Seq[Float]]("embedding").toArray) }
    val centroid = udaf(new CentroidAggregator(64))
    val rounds = if (n <= KmeansTrainSample) KmeansRounds else KmeansRoundsSampled
    var kmRound = 0
    var moved = true
    while (kmRound < rounds && moved) {
      val updated = assignCells(train, codebook)
        .groupBy("cell").agg(centroid(col("embedding")).as("c"))
        .collect()
        .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Double]]("c").map(_.toFloat).toArray))
        .toMap
      moved = codebook.exists { case (cid, old) =>
        updated.get(cid).exists { nw =>
          val shift = math.sqrt(old.zip(nw).map { case (a, b) =>
            (a - b).toDouble * (a - b) }.sum)
          val norm = math.sqrt(old.map(v => v.toDouble * v).sum)
          shift > 1e-3 * math.max(norm, 1e-12)
        }
      }
      codebook = codebook.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
      kmRound += 1
    }
    codebook
  }

  /** The serving-side join shared by [[annIvfTrainedTopk]] and
    * [[annFromIndex]]: probes (qid, qemb, qnrm, cell) against the
    * cell-assigned corpus, self-match excluded, cosine top-3 per probe.
    */
  private def serveCells(q: DataFrame, corpus: DataFrame): DataFrame = {
    // rank <= 3 as the payload-carrying bounded aggregate, not a window
    // (r18, the batch-6 fold applied to the serve path): candidates per
    // probe are bounded by cell occupancy, which grows ∝ n past the
    // IvfMaxCells knee — the window shuffled AND sorted that full stream
    // per qid; the aggregate reduces each partition to <= 3 rows per
    // probe map-side. `cell` is per-candidate (each corpus vector lives
    // in one cell), so it rides as the aggregate's payload; ranking
    // equivalence is the [[graft.functions.BoundedTopK]] contract, pinned
    // by PayloadTopKAggProps against this very window form. Candidate
    // (qid, vec_id) pairs are distinct by construction: a corpus vector
    // joins through exactly one cell row.
    q.join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4).as("cosine"),
        col("cell"))
      .transform(topkByQid(3, carried = Seq("cell")))
      .select("qid", "cell", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  def annIvfTrainedTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
      .localCheckpoint()
    val codebook = trainCodebookCached(e, s"$d#all#${corpusStamp(s, d)}")
    val assigned = assignCells(e, codebook)
    val q = assigned.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    // `e`'s checkpoint blocks back the returned plan too, so they are not
    // unpersisted here (unlike dedupClusters' superseded per-round labels);
    // they die with the session or the block manager's LRU.
    serveCells(q, assigned)
  }

  /** Oracle-closed registered form of the trained-IVF query — the
    * exact-twin + in-bound-verdict pattern that closed the sketch family
    * (`approx_distinct`, `percentile_tdigest`): the COMPARED frame carries
    * only engine-portable values — the brute-force cosine top-3 per probe
    * (DuckDB reproduces it verbatim; `ann_bruteforce_topk`'s SQL at k=3)
    * — plus boolean verdicts computed in-frame from the engine-specific
    * trained-IVF halves:
    *
    *   - `nprobe2_not_worse`: truth-hits served at nprobe = 2 are >= the
    *     hits at nprobe = 1. PROVABLE, not fixture-calibrated: the
    *     nprobe = 2 candidate set is a superset, and a true top-3
    *     neighbor present in any candidate set always ranks in the
    *     served top-3 (it outranks every non-true candidate by cosine) —
    *     so hits are monotone in nprobe at any SF.
    *   - `trained_recall_floor`: nprobe = 1 recall@3 >= 0.25 — twice the
    *     ~1/k random-cell baseline (k = 8 cells at every oracle SF —
    *     [[ivfCells]] resolves to the floor there), with wide margin on the
    *     fixtures (0.33 at sf0.01, 0.47 at sf0.001). A catastrophic
    *     k-means regression (empty/garbage codebook → near-random cells)
    *     lands at the 0.125 baseline and turns the row red.
    *
    * A `trained >= untrained` verdict was measured and REJECTED: at
    * sf0.01 the trained codebook recalls 5/15 vs the untrained first-k's
    * 6/15 — k-means minimizes quantization error, not boundary-probe
    * recall, so that comparison is not a stable property (the sf0.001
    * spec where it happens to hold stays as a spec, not an oracle).
    * The oracle asserts the two verdicts as literals, so a recall
    * regression turns the driver's hash compare red while the k-means
    * internals (centroid floats, cell populations) stay out of the
    * compared frame where engines could never agree. Raw neighbor
    * serving stays available as [[annIvfTrainedTopk]] (specs,
    * `writeAnnIndex`/`annFromIndex`).
    */
  def annIvfTrainedRecall(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    // nrm > 0 guard (the decontaminate_embedding contract): an all-zero
    // vector would put NaN into every cosine — engine-divergent ordering
    // AND a broken total order under the nprobe-monotonicity argument
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
      .filter(col("nrm") > 0)
      .localCheckpoint() // read by training passes, probes, and brute truth
    val brute = bruteTopk(e, 3)
      .localCheckpoint() // read 3×: truth rows + two semi-join probes
    val codebook = trainCodebookCached(e, s"$d#nrm#${corpusStamp(s, d)}")
    val corpus = assignCells(e, codebook)
    val probes2 = assignCellsTop2(e.filter(col("vec_id") % 100 === 0), codebook)
    val q1 = probes2.select(col("vec_id").as("qid"), col("embedding").as("qemb"),
      col("nrm").as("qnrm"), col("cell1").as("cell"))
    val q2 = probes2.select(col("vec_id").as("qid"), col("embedding").as("qemb"),
      col("nrm").as("qnrm"), explode(array(col("cell1"), col("cell2"))).as("cell"))
    val truthIds = brute.select("qid", "vec_id")
    def hits(approx: DataFrame, as: String): DataFrame =
      truthIds.join(approx.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as(as))
    val verdict = hits(serveCells(q1, corpus), "h1")
      .crossJoin(hits(serveCells(q2, corpus), "h2"))
      .crossJoin(truthIds.agg(count(lit(1)).as("n_truth")))
      .select(
        (col("h2") >= col("h1")).as("nprobe2_not_worse"),
        (col("h1") * 4 >= col("n_truth")).as("trained_recall_floor"))
    brute.crossJoin(broadcast(verdict))
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"),
        col("nprobe2_not_worse"), col("trained_recall_floor"))
      .orderBy("qid", "rank")
  }

  val annIvfTrainedRecallSql: String =
    s"""WITH nz AS (
       |  SELECT * FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0),
       |scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM nz p JOIN nz q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, cosine,
       |  TRUE AS nprobe2_not_worse, TRUE AS trained_recall_floor
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------- persisted ANN index
  /** Build and PERSIST the trained-IVF index: the k-means codebook and
    * the cell-assigned corpus (vec_id, embedding, norm, cell) as parquet
    * under `indexDir` — the serving-path completion of the
    * `dedup_incremental_indexed` pattern. [[annIvfTrainedTopk]] retrains
    * per invocation, which is fine as a query but wrong as a 100 TB
    * serving story: training is a multiple-full-pass batch job that
    * should run once per index build, while serving a probe batch should
    * read ONLY the index (codebook + its cells) and the probes.
    * The corpus parquet is partitioned by `cell`, so a probe batch that
    * hits few cells prunes to few partitions at the scan.
    */
  def writeAnnIndex(s: SparkSession, d: String, indexDir: String): Unit =
    writeAnnIndexFrom(s,
      Tables.parallelize(s, Tables.embeddings(s, d)), d, "all", indexDir)

  /** [[writeAnnIndex]] over an explicit `(vec_id, embedding)` frame — the
    * grow-serve path builds its base index on the HISTORY slice only.
    * `variant` keys the codebook cache so differently-sliced builds of the
    * same corpus dir never share centroids. */
  private def writeAnnIndexFrom(s: SparkSession, e0: DataFrame, d: String,
      variant: String, indexDir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, indexDir)
    graft.functions.VecFunctions.register(s)
    val e = e0
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
      .localCheckpoint()
    val codebook = trainCodebookCached(e, s"$d#$variant#${corpusStamp(s, d)}")
    import s.implicits._
    codebook.map { case (cid, emb) => (cid, emb.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1) // k×64 floats: one tiny file, read whole at serve time
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
    assignCells(e, codebook)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/corpus")
    graft.models.ModelManifest.write(s, indexDir, "ann_ivf_index", d,
      Seq("embeddings"), Seq("cells" -> codebook.size.toString))
  }

  /** Serve a probe batch from a PERSISTED index (see [[writeAnnIndex]]):
    * no k-means, no corpus re-encode — the codebook is one bounded
    * driver read (k×64 floats, the sanctioned collect), probe cell
    * assignment is the same literal-centroid argmax projection as the
    * in-memory path, and the only corpus bytes touched are the index's
    * cell partitions. `probes` must carry (vec_id, embedding). Results
    * are row-identical to [[annIvfTrainedTopk]] on the same corpus and
    * probe set (same deterministic training, same serving join —
    * `AnnIndexSpec` pins identity AND that the plan scans the embeddings
    * table only for the probes, zero corpus re-reads).
    */
  /** Read a persisted codebook back in cell order — the ONE definition of
    * the k×64 bounded driver read (the sanctioned collect class), shared
    * by [[annFromIndex]], [[semdedupScreenFromModel]] and
    * `Streams.streamSemdedupScreen`.
    *
    * Cached per (dir, file-metadata stamp) — the [[trainedCodebooks]]
    * discipline applied to the READ side (r17): one serve query was
    * re-reading the same k×64 parquet three times per invocation
    * (codebook-size probe + grown serve + stale serve), each read a
    * sort-exchange Spark job; the stamp is one driver-side FS listing, so
    * a retrained/compacted index (staged swap ⇒ new files/mtimes) misses
    * the cache and re-reads, exactly like the training-side stamp. */
  private val dirCodebooks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Array[Float])]]
  private def fileStamp(s: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) "absent"
    else {
      val it = fs.listFiles(path, true)
      var len = 0L; var mt = 0L; var n = 0
      while (it.hasNext) {
        val f = it.next(); len += f.getLen
        mt = math.max(mt, f.getModificationTime); n += 1
      }
      s"$n-$len-$mt"
    }
  }
  def codebookFromDir(s: SparkSession, indexDir: String): Seq[(Int, Array[Float])] =
    dirCodebooks.getOrElseUpdate(
      s"$indexDir#${fileStamp(s, s"$indexDir/codebook")}",
      s.read.parquet(s"$indexDir/codebook")
        .orderBy("cell").collect()
        .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Float]]("centroid").toArray))
        .toSeq)

  def annFromIndex(s: SparkSession, probes: DataFrame, indexDir: String,
      nprobe: Int = 1): DataFrame = {
    graft.models.ModelManifest.validate(s, indexDir, "ann_ivf_index")
    graft.functions.VecFunctions.register(s)
    val codebook = codebookFromDir(s, indexDir)
    val corpus = s.read.parquet(s"$indexDir/corpus")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val q = assignCellsTopN(
        probes.select(col("vec_id"), col("embedding"),
          expr("vec_norm(embedding)").as("nrm")),
        codebook, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    serveCells(q, corpus)
  }

  // ------------------------------------------------- incremental ANN index
  /** Cell-assign one arriving batch with the FROZEN persisted codebook and
    * append it under `indexDir/appended/batch_id=<id>`, partitioned by
    * cell — the vector twin of `Streams.editScreenGrowSinkBatch`'s segment
    * append. No retrain, no base rewrite: the append cost is one narrow
    * assignment projection over the batch plus its own parquet write, and
    * a redelivered batch byte-replaces its own directory. Reading the
    * appended root recovers `batch_id` and `cell` as partition columns, so
    * a serving join on `cell` still prunes and an own-batch exclusion on
    * `batch_id` prunes too. `batch` must carry (vec_id, embedding). */
  def annIndexAppendBatch(batch: DataFrame,
      codebook: Seq[(Int, Array[Float])], indexDir: String,
      batchId: Long): Unit = {
    graft.functions.VecFunctions.register(batch.sparkSession)
    assignCells(batch.select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm")), codebook)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/appended/batch_id=$batchId")
  }

  /** The grown corpus relation: base rows (batch_id = -1) plus every
    * appended batch, `excludeBatch` partition-pruned away when >= 0 (the
    * redelivery discipline: a re-screened batch never sees its own prior
    * write). The union is NOT deduplicated here — latest-wins per vec_id
    * is applied after the cell prune by [[serveCellsLatest]], so serving
    * never pays a corpus-wide shuffle. */
  private[graft] def grownCorpus(s: SparkSession, indexDir: String,
      excludeBatch: Long = -1L): DataFrame = {
    val base = s.read.parquet(s"$indexDir/corpus")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell").cast("int").as("cell"))
      .withColumn("batch_id", lit(-1))
    val appended =
      try {
        val a = s.read.parquet(s"$indexDir/appended")
        (if (excludeBatch >= 0) a.filter(col("batch_id") =!= excludeBatch)
         else a)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cell").cast("int").as("cell"),
            col("batch_id").cast("int").as("batch_id"))
      } catch { case _: org.apache.spark.sql.AnalysisException =>
        base.limit(0) // nothing appended yet
      }
    base.unionByName(appended)
  }

  /** [[serveCells]] over a GROWN corpus: same cell-equi-join + cosine
    * top-3, with latest-wins upsert semantics applied to the CANDIDATE
    * relation (partition by (qid, vec_id), keep the highest batch_id) —
    * a re-ingested vector serves its newest embedding, and the dedup
    * window runs after the cell prune, over candidates only, never the
    * corpus. Known trade until [[compactAnnIndex]] runs: a re-ingested
    * vector whose NEW embedding lands in a DIFFERENT cell leaves its
    * stale row visible to probes of the old cell — compaction's global
    * latest-wins removes it. */
  private def serveCellsLatest(q: DataFrame, corpus: DataFrame): DataFrame = {
    // Both windows folded into aggregates (r18). The batch-latest dedup
    // becomes a (qid, vec_id)-keyed max over (batch_id, cosine, cell)
    // structs — (qid, vec_id, batch_id) is unique by construction (base
    // holds each vec_id once, a batch directory holds each vec_id once),
    // so max-by-batch_id selects exactly the window's rn = 1 row; the
    // cosine is computed BEFORE the exchange so the dedup shuffle carries
    // ~40 bytes/candidate instead of the two 64-float embeddings the
    // window form dragged through it (guide §2.3: shuffle metadata, not
    // payloads — the stale-row cosines this pre-computes are the rare
    // re-ingest duplicates). The rank <= 3 then folds exactly as
    // [[serveCells]] does.
    q.join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("batch_id"),
        round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4)
          .as("cosine"),
        col("cell"))
      .groupBy("qid", "vec_id")
      .agg(max(struct(col("batch_id"), col("cosine"), col("cell"))).as("m"))
      .select(col("qid"), col("vec_id"),
        col("m.cosine").as("cosine"), col("m.cell").as("cell"))
      .transform(topkByQid(3, carried = Seq("cell")))
      .select("qid", "cell", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  /** The one screen composition shared by [[annFromIndexGrown]] and
    * `Streams.streamAnnIngest`: probes cell-assigned with the frozen
    * codebook, served against base ∪ appends (minus `excludeBatch`). */
  private[graft] def annScreenGrownBatch(probes: DataFrame,
      codebook: Seq[(Int, Array[Float])], indexDir: String,
      excludeBatch: Long, nprobe: Int = 1): DataFrame = {
    val s = probes.sparkSession
    graft.functions.VecFunctions.register(s)
    val q = assignCellsTopN(probes.select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm")), codebook, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    serveCellsLatest(q, grownCorpus(s, indexDir, excludeBatch))
  }

  /** Serve a probe batch from a GROWN index — [[annFromIndex]] extended
    * to see every appended batch, so a neighbor ingested after the last
    * full build is found without any retrain. */
  def annFromIndexGrown(s: SparkSession, probes: DataFrame,
      indexDir: String, nprobe: Int = 1): DataFrame = {
    graft.models.ModelManifest.validate(s, indexDir, "ann_ivf_index")
    annScreenGrownBatch(probes, codebookFromDir(s, indexDir), indexDir,
      excludeBatch = -1L, nprobe = nprobe)
  }

  /** Offline compaction for a grown ANN index: folds `appended/` into the
    * base corpus with GLOBAL latest-wins upsert semantics per vec_id
    * (which also clears the moved-cell staleness [[serveCellsLatest]]
    * documents), under the manifest invalidate-first / rewrite-last
    * bracket and staged-rename swap shared with
    * `TextAnalysis.compactEditIndex`. The merge never shuffles the whole
    * corpus: the latest-wins window runs over the APPENDED rows only, and
    * base rows are kept via an anti-join against the (small) updated-key
    * set — AQE broadcasts it when appends are a sliver of the base, the
    * expected maintenance shape. No-op when nothing was appended. */
  /** Base ∪ appends with GLOBAL latest-wins upsert semantics per vec_id —
    * the maintenance merge shared by [[compactAnnIndex]] (which keeps the
    * frozen cell assignments) and [[retrainAnnIndex]] (which drops them
    * and re-derives cells from a fresh codebook). The latest-wins window
    * runs over the APPENDED rows only, and base rows are kept via an
    * anti-join against the (small) updated-key set — AQE broadcasts it
    * when appends are a sliver of the base, the expected maintenance
    * shape. None when nothing was appended. */
  private def mergedGrownCorpus(s: SparkSession,
      indexDir: String): Option[DataFrame] = {
    if (!graft.models.IndexMaintenance.exists(s, s"$indexDir/appended"))
      return None
    val base = s.read.parquet(s"$indexDir/corpus")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell").cast("int").as("cell"))
    val appended = s.read.parquet(s"$indexDir/appended")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell").cast("int").as("cell"),
        col("batch_id").cast("int").as("batch_id"))
    val wLatest = Window.partitionBy("vec_id").orderBy(col("batch_id").desc)
    val latestAppends = appended
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select("vec_id", "embedding", "nrm", "cell")
    Some(base
      .join(appended.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      .unionByName(latestAppends))
  }

  def compactAnnIndex(s: SparkSession, indexDir: String): Unit = {
    val m = graft.models.ModelManifest.validate(s, indexDir, "ann_ivf_index")
    val merged = mergedGrownCorpus(s, indexDir).getOrElse(return)
    graft.models.ModelManifest.invalidate(s, indexDir)
    graft.models.IndexMaintenance.stagedSwap(s, indexDir, "corpus",
      Seq("appended")) { staged =>
      merged.write.mode("overwrite").partitionBy("cell").parquet(staged)
    }
    graft.models.ModelManifest.write(s, indexDir, "ann_ivf_index",
      m.sourceDir, m.tables, graft.models.IndexMaintenance.bumpCompactions(m))
  }

  /** Per-JVM scratch root for grow-serve indexes (the
    * `Dedup.dedupIndexDir` discipline: corpus-keyed subdir under a fresh
    * per-JVM temp parent, shutdown-hook cleanup). */
  private lazy val annScratchParent: java.nio.file.Path =
    Scratch.tempParent("graft_ann_grow")
  private def annGrowDir(d: String): String = {
    val tag = f"${Portable.hash28Jvm(d)}%08x"
    new java.io.File(annScratchParent.toFile, tag).getAbsolutePath
  }

  /** History/arrival split shared by [[annGrowServe]] and
    * [[annIndexDrift]]: every third vector "arrives" after the base index
    * was built, the rest are history. Engine-portable predicates. */
  private val isArrival = col("vec_id") % 3 === 0

  /** Recall floor COEFFICIENT for the grown-index serve: the verdict
    * requires recall@3 >= [[GrowRecallCoeff]] / sqrt(k) where k is the
    * index's adaptive codebook size — nprobe-1 recall falls as cells
    * multiply, so a fixed floor cannot serve both the k = 8 fixtures and
    * a ×10 corpus (k ≈ 53). Calibration history: the original 0.57 was
    * fit against codebooks the id-predicate seeding had silently
    * UNDER-built (5 cells presented as "k = 8" — see [[trainCodebook]]);
    * with the seeding fixed, genuine k = 8 recall at the smallest
    * fixture drops to 0.185 and the first full sf0.1 oracle sweep caught
    * the old floor sitting one part in 1e4 above the measured value — a
    * hair-trigger, not a margin. Re-fit at true k: 0.40/sqrt(8) = 0.141
    * against measured grown recall 0.185/0.296/0.265 at
    * sf0.001/0.01/0.1 (margins 1.31/2.10/1.87×); at the generated ×10
    * corpus (k = 54) the constant-fraction [[growNprobe]] serving
    * measures 0.510 against the 0.054 floor — the √k shape is doubly
    * conservative once nprobe scales with k. The floor alone loses
    * appends-invisibility bite as k grows (the stale recall also sits
    * above it at ×10), which is what the strict
    * `grown_gains_on_appends` verdict is for. */
  private[graft] val GrowRecallCoeff = 0.40

  /** Build-once-per-JVM grown index for [[annGrowServe]]: base trained on
    * history only, arrivals appended in two frozen-codebook batches. */
  private val grownIndexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private val grownBuildLock = new Object
  private def grownIndexDir(s: SparkSession, d: String): String =
    grownBuildLock.synchronized {
      grownIndexes.getOrElseUpdate(d, {
        val dir = annGrowDir(d)
        graft.functions.VecFunctions.register(s)
        val nz = Tables.parallelize(s, Tables.embeddings(s, d))
          .filter(expr("vec_norm(embedding)") > 0)
        writeAnnIndexFrom(s, nz.filter(!isArrival), d, "growbase", dir)
        val codebook = codebookFromDir(s, dir)
        val arrivals = nz.filter(isArrival).select("vec_id", "embedding")
        annIndexAppendBatch(arrivals.filter(col("vec_id") % 6 === 0),
          codebook, dir, 0L)
        annIndexAppendBatch(arrivals.filter(col("vec_id") % 6 === 3),
          codebook, dir, 1L)
        dir
      })
    }

  /** Registered grow-serve query — the oracle-closed form of the
    * incremental index ([[annIndexAppendBatch]] / [[annFromIndexGrown]]),
    * in the exact-twin + in-bound-verdict pattern `ann_ivf_trained_topk`
    * established: the compared frame is the engine-portable brute-force
    * cosine top-3 over the FULL corpus for the probe panel — arriving
    * vectors with vec_id % 20 = 0 AND vec_id < 2000, the semdedup
    * fixed-panel discipline: every fixture id is < 2000 so the oracle
    * rows are unchanged there, while at ×N the panel stays FIXED and the
    * truth join is O(panel × n), not O(n²) — plus two boolean verdicts
    * from the engine-specific halves:
    *
    *   - `grown_not_worse_than_stale`: truth-hits served from the grown
    *     index >= hits from the stale base-only index. PROVABLE: probes
    *     assign to the same cell under the same frozen codebook, the
    *     grown candidate set is a superset of the stale one (history and
    *     arrivals are disjoint vec_id sets), and a true top-3 neighbor
    *     present in any candidate set always ranks in the served top-3.
    *   - `grown_gains_on_appends`: grown hits STRICTLY exceed stale hits
    *     — probes are arrivals, so some of their true neighbors live
    *     only in the appended half; an engine that silently serves the
    *     frozen base alone fails this at every measured scale (margins
    *     5>4, 8>5, 27>18 at the fixtures under the true-k = 8 codebooks,
    *     52>35 at the generated ×10 corpus under the constant-fraction
    *     [[growNprobe]] serving — nprobe-1 there measured a 9 = 9 TIE,
    *     which is why the serve is nprobe-adaptive).
    *   - `grown_recall_floor`: grown recall@3 >= [[GrowRecallCoeff]] /
    *     sqrt(codebook k) — see the coefficient's scaladoc.
    *
    * The index is built once per JVM per corpus ([[grownIndexDir]], the
    * `dedup_incremental_indexed` cost model): Bench's cold pass pays the
    * build, warm passes measure the serving join. */
  /** Calibration/spec seam: the grow-serve truth rows WITH the raw hit
    * counters the verdicts derive from. */
  private[graft] def annGrowServeFull(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val dir = grownIndexDir(s, d)
    val nz = Tables.parallelize(s, Tables.embeddings(s, d))
      .filter(expr("vec_norm(embedding)") > 0)
      .select("vec_id", "embedding")
      .localCheckpoint() // probes + truth corpus: read 3×
    val probes = nz.filter(isArrival && col("vec_id") % 20 === 0 &&
      col("vec_id") < 2000)
    // top-3 via the bounded partial aggregate ([[topkByQid]]) — the
    // probe×corpus truth stream reduces map-side instead of shuffling
    // O(panel × corpus) rows into a per-qid sort (r17)
    val truth = probes
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .join(nz, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qemb"), col("embedding")), 4).as("cosine"))
      .transform(topkByQid(3))
      .select("qid", "rank", "vec_id", "cosine")
      // array-free (the semdedup checkpoint rule) and read FOUR times —
      // both serve-side semi joins, the nq aggregate, and the output
      // crossJoin; without this the brute-force probe×corpus truth pass
      // (the query's hottest stage) re-executes per consumer (r17)
      .localCheckpoint()
    val np = growNprobe(growServeCodebookSize(s, d))
    val grownHits = truth
      .join(annFromIndexGrown(s, probes, dir, np), Seq("qid", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("grown_hits"))
    val staleHits = truth
      .join(annFromIndex(s, probes, dir, np), Seq("qid", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("stale_hits"))
    val nq = truth.select("qid").distinct().agg(count(lit(1)).as("nq"))
    truth.crossJoin(grownHits).crossJoin(staleHits).crossJoin(nq)
  }

  /** Diagnostic seam: the grow-serve index's codebook size (the k the
    * recall floor divides by). */
  private[graft] def growServeCodebookSize(s: SparkSession, d: String): Int =
    codebookFromDir(s, grownIndexDir(s, d)).size

  /** Adaptive nprobe for the grow-serve query: serve a CONSTANT corpus
    * fraction (the fixtures' 1-of-8 cells) as the adaptive codebook
    * grows — k = 8 keeps the historical nprobe = 1 plans, a ×10 corpus
    * (k ≈ 53) probes ~7 cells. Without this the strict
    * `grown_gains_on_appends` verdict loses its large-k bite the same
    * way the fixed recall floor once did: at true k = 54 under
    * nprobe-1, grown and stale hits measured a 9 = 9 TIE at the ×10
    * corpus — an appends-blind engine would have passed. Production
    * tunes nprobe to its own recall/latency point; the constant-fraction
    * rule is the calibration-stable choice for the verdict oracle. */
  private[graft] def growNprobe(k: Int): Int = math.max(1, math.round(k / 8.0f))

  def annGrowServe(s: SparkSession, d: String): DataFrame = {
    val k = growServeCodebookSize(s, d)
    annGrowServeFull(s, d)
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"),
        (col("grown_hits") >= col("stale_hits")).as("grown_not_worse_than_stale"),
        (col("grown_hits") > col("stale_hits")).as("grown_gains_on_appends"),
        (col("grown_hits") >= col("nq") * 3 * lit(GrowRecallCoeff / math.sqrt(k)))
          .as("grown_recall_floor"))
      .orderBy("qid", "rank")
  }

  val annGrowServeSql: String =
    s"""WITH nz AS (
       |  SELECT * FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0),
       |scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM nz p JOIN nz q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 3 = 0 AND p.vec_id % 20 = 0 AND p.vec_id < 2000),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, cosine,
       |  TRUE AS grown_not_worse_than_stale, TRUE AS grown_gains_on_appends,
       |  TRUE AS grown_recall_floor
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** Total-variation distance between the base index's cell-share
    * distribution and a cohort's — k-row frames, one tiny full-outer
    * join; returns a single row (tv, n_arrivals). */
  /** TV distance between the base cell shares and a PRE-AGGREGATED
    * cohort — (cell, na, err_sum) rows — plus the cohort mean fit error
    * (sum of err_sum over sum of na). The ONE implementation of the
    * coalesce/share/abs-sum-over-2 math: [[driftTv]] (batch report) and
    * [[driftVerdictBatch]] (streaming per-batch verdict) both route
    * through here, so ingest-time and offline drift can never diverge
    * by construction. */
  private def driftTvAgg(baseCells: DataFrame, perCell: DataFrame): DataFrame = {
    val b = baseCells.groupBy("cell").agg(count(lit(1)).as("nb"))
    val w = Window.partitionBy()
    b.join(perCell, Seq("cell"), "full_outer")
      .select(coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("err_sum"), lit(0.0)).as("err_sum"))
      .select(abs(col("nb") / sum("nb").over(w) -
        col("na") / sum("na").over(w)).as("d"), col("na"), col("err_sum"))
      .agg((sum("d") / 2).as("tv"), sum("na").as("n_arrivals"),
        (sum("err_sum") / sum("na")).as("arr_err"))
  }

  private def driftTv(baseCells: DataFrame, cohortCells: DataFrame): DataFrame =
    driftTvAgg(baseCells, cohortCells.groupBy("cell")
      .agg(count(lit(1)).as("na"), sum(lit(0.0)).as("err_sum")))
      .select("tv", "n_arrivals")

  /** Flag threshold for [[annIndexDrift]] — see the calibration note in
    * that scaladoc. */
  private val DriftTvFlag = 0.15

  /** One micro-batch's drift verdict against a persisted index's cell
    * shares — the seam `Streams.streamAnnDriftMonitor` writes per batch
    * (same [[driftTv]] metric and [[DriftTvFlag]] threshold as the batch
    * report, so ingest-time and offline drift can never disagree). Also
    * carries the batch's codebook-FIT ratio against `ownFitErr` (the
    * index corpus's own mean fit, computed once at monitor start by
    * [[indexOwnFitErr]]) as UNFLAGGED telemetry, riding the same single
    * assignment pass the TV metric needs — a per-batch fit flag was
    * measured and rejected (drifted cohorts score only 1.10–1.16 vs the
    * ≈1.0 of in-distribution batches; see [[annRetrainReport]], whose
    * shadow-retrain gain owns the retrain decision). A TV flag here says
    * "run the [[annRetrainReport]] evaluation". */
  private[graft] def driftVerdictBatch(batch: DataFrame,
      codebook: Seq[(Int, Array[Float])], baseCells: DataFrame,
      ownFitErr: Double): DataFrame = {
    graft.functions.VecFunctions.register(batch.sparkSession)
    val assigned = assignCells(batch.select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm")), codebook)
    // one groupBy over the assignment pass carries BOTH consumers' state
    // (per-cell arrival counts for TV, per-cell fit-error sums for the
    // ratio) — the batch source is scanned exactly once per trigger, and
    // the TV math itself is the shared driftTvAgg implementation.
    // ownFitErr = 0 is legal (a corpus whose vectors sit exactly on its
    // centroids — tiny corpus with adaptive k >= n, or duplicates); emit
    // a null ratio instead of Infinity/NaN in the per-batch verdicts
    val fitRatio = if (ownFitErr > 0) round(col("arr_err") / ownFitErr, 4)
      else lit(null).cast("double")
    driftTvAgg(baseCells, assigned.groupBy("cell")
        .agg(count(lit(1)).as("na"), sum(lit(1.0) - col("csim")).as("err_sum")))
      .select(col("n_arrivals"), round(col("tv"), 4).as("tv"),
        (col("tv") > DriftTvFlag).as("drift_flagged"), fitRatio.as("fit_ratio"))
  }

  /** Mean codebook-fit error of a persisted index's own corpus under its
    * own codebook — the retrain-ratio denominator. One assignment pass
    * over the index, run once at monitor start, never per batch. */
  def indexOwnFitErr(s: SparkSession, indexDir: String): Double = {
    graft.functions.VecFunctions.register(s)
    meanFitErr(
      s.read.parquet(s"$indexDir/corpus")
        .select(col("vec_id"), col("embedding"), col("nrm")),
      codebookFromDir(s, indexDir), "own_err")
      .collect().head.getDouble(0)
  }

  /** Calibration/spec seam: the drift rows WITH the engine-internal tv
    * value (cells are k-means assignments, so tv itself is not
    * oracle-portable — the registered query projects it away). */
  private[graft] def annIndexDriftFull(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm"))
      .filter(col("nrm") > 0)
      .localCheckpoint() // training passes + two assignment passes
    val base = e.filter(!isArrival)
    val codebook = trainCodebookCached(base, s"$d#growbase#${corpusStamp(s, d)}")
    val baseCells = assignCells(base, codebook).select("cell")
    val arrivals = e.filter(isArrival)
    // the shifted cohort is the SAME arrivals pushed into the positive
    // orthant (component-wise abs) — a stand-in for a genuine domain
    // shift (new modality, new embedding model); norms are unchanged, so
    // only the DIRECTION distribution moves
    val shifted = arrivals.select(col("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"), col("nrm"))
    Seq(
      ("shifted", shifted),
      ("unbiased", arrivals))
      .map { case (name, cohort) =>
        driftTv(baseCells, assignCells(cohort, codebook).select("cell"))
          .select(lit(name).as("cohort"), col("n_arrivals"),
            (col("tv") > DriftTvFlag).as("drift_flagged"), col("tv"))
      }
      .reduce(_ unionByName _)
  }

  /** Registered drift report — the index-maintenance telemetry that
    * decides WHEN [[compactAnnIndex]] is not enough and a retrain
    * ([[retrainAnnIndex]]) is due: if arriving data keeps landing where
    * history did, the frozen codebook still balances cells and grow +
    * compact suffice; if arrivals drift, occupancy skews and within-cell
    * serving cost bends away from the trained equilibrium. Two arrival
    * cohorts over the same history index: "unbiased" (every third
    * vector — a same-distribution sample, must NOT flag) and "shifted"
    * (the same arrivals pushed into the positive orthant by
    * component-wise abs — a domain-shift stand-in, MUST flag). The drift
    * metric is total-variation distance between base and arrival cell
    * shares; the [[DriftTvFlag]] = 0.15 threshold is fixture-calibrated
    * with two-sided margin (measured unbiased 0.03–0.09, shifted
    * 0.34–0.57 across sf0.001/0.01/0.1). The compared frame carries only
    * portable columns (cohort, n_arrivals) plus the boolean verdicts —
    * the k-means cell internals stay out of the oracle, the flag
    * decisions do not. */
  def annIndexDrift(s: SparkSession, d: String): DataFrame =
    annIndexDriftFull(s, d)
      .select("cohort", "n_arrivals", "drift_flagged")
      .orderBy("cohort")

  val annIndexDriftSql: String =
    """WITH nz AS (
      |  SELECT * FROM embeddings
      |  WHERE sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0)
      |SELECT 'shifted' AS cohort, CAST(count(*) AS BIGINT) AS n_arrivals,
      |  TRUE AS drift_flagged
      |FROM nz WHERE vec_id % 3 = 0
      |UNION ALL
      |SELECT 'unbiased', CAST(count(*) AS BIGINT), FALSE
      |FROM nz WHERE vec_id % 3 = 0
      |ORDER BY cohort""".stripMargin

  // ------------------------------------------------- retrain lifecycle
  /** Mean codebook-fit error of a cohort under a driver-held codebook:
    * `1 - csim` averaged, where csim is the cosine to the winning
    * centroid that [[assignCells]] already emits — the quantization
    * error k-means training minimizes. One narrow assignment pass plus a
    * single-row aggregate; no shuffle beyond the final reduce. */
  private def meanFitErr(cohort: DataFrame,
      codebook: Seq[(Int, Array[Float])], as: String): DataFrame =
    assignCells(cohort, codebook)
      .agg(avg(lit(1.0) - col("csim")).as(as))

  /** Flag threshold on the shadow-retrain GAIN for [[annRetrainReport]]
    * — see the calibration note in that scaladoc. */
  private val RetrainGainFlag = 2.0

  /** Calibration/spec seam: the retrain-report rows WITH the raw
    * shadow-retrain gain the flag derives from. */
  private[graft] def retrainFitFull(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm"))
      .filter(col("nrm") > 0)
      .localCheckpoint() // three training loops + four assignment passes
    val history = e.filter(!isArrival)
    val current = trainCodebookCached(history,
      s"$d#growbase#${corpusStamp(s, d)}")
    val arrivals = e.filter(isArrival)
    // the same domain-shift stand-in as [[annIndexDrift]]'s shifted
    // cohort; each cohort is split in two — half is INGESTED (what the
    // shadow candidate trains on), half keeps arriving and is what both
    // codebooks are judged against
    val shifted = arrivals.select(col("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"), col("nrm"))
    Seq(("shifted", shifted), ("unbiased", arrivals))
      .map { case (name, cohort) =>
        val ingested = cohort.filter(col("vec_id") % 6 === 0)
        val future = cohort.filter(col("vec_id") % 6 === 3)
        val candidate = trainCodebookCached(history.unionByName(ingested),
          s"$d#retrain_$name#${corpusStamp(s, d)}")
        meanFitErr(future, current, "cur_err")
          .crossJoin(meanFitErr(future, candidate, "cand_err"))
          .crossJoin(future.agg(count(lit(1)).as("n_arrivals")))
          .select(lit(name).as("cohort"), col("n_arrivals"),
            round(col("cur_err") / col("cand_err"), 4).as("gain"))
      }
      .reduce(_ unionByName _)
  }

  /** Registered shadow-retrain evaluation — the decision procedure that
    * closes the loop [[annIndexDrift]] opens, answering the question TV
    * drift cannot: is a retrain WORTH RUNNING? (TV keeps flagging after
    * a regime change for as long as arrivals differ from the corpus
    * mixture — it is the occupancy-skew alarm, not an effectiveness
    * claim. And the naive "arrival fit error vs the corpus's own fit
    * error" ratio was measured and REJECTED as a flag: on this fixture a
    * history-trained codebook fits the orthant-shifted cohort only
    * 1.10–1.16× worse than its own data — within noise of the ≈1.0 an
    * in-distribution cohort scores, because a coarse k-cell codebook in
    * 64 dims fits nobody well in absolute terms.)
    *
    * The robust metric is the shadow-retrain GAIN, the production
    * pattern for index maintenance: train a CANDIDATE codebook on
    * history ∪ a slice of recent arrivals, and compare later arrivals'
    * mean fit error (`1 - cosine` to winning centroid) under the current
    * codebook vs under the candidate. Retrain when the candidate
    * represents arrivals materially better — gain = cur_err/cand_err >
    * [[RetrainGainFlag]] = 2.0 — then promote it via
    * [[retrainAnnIndex]]. Two cohorts over the same history index:
    * "unbiased" (same-distribution arrivals — a candidate buys nothing,
    * measured gain 1.00–1.01, must NOT flag) and "shifted" (the
    * positive-orthant regime of [[annIndexDrift]] — measured gain
    * 3.93–4.29, MUST flag); the 2.0 threshold has ≥1.9× clearance on
    * both sides at every fixture AND at the generated ×10 corpus
    * (k = 53 adaptive codebook: 3.87 vs 1.00 — the separation survives
    * the large-k regime). The compared frame carries only portable
    * columns (cohort, n_arrivals) plus the flag verdicts; the k-means
    * internals stay out of the oracle, the flag decisions do not. */
  def annRetrainReport(s: SparkSession, d: String): DataFrame =
    retrainFitFull(s, d)
      .select(col("cohort"), col("n_arrivals"),
        (col("gain") > RetrainGainFlag).as("retrain_worthwhile"))
      .orderBy("cohort")

  val annRetrainReportSql: String =
    """WITH nz AS (
      |  SELECT * FROM embeddings
      |  WHERE sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0),
      |fut AS (SELECT CAST(count(*) AS BIGINT) AS n_arrivals
      |        FROM nz WHERE vec_id % 6 = 3)
      |SELECT 'shifted' AS cohort, n_arrivals, TRUE AS retrain_worthwhile FROM fut
      |UNION ALL
      |SELECT 'unbiased', n_arrivals, FALSE FROM fut
      |ORDER BY cohort""".stripMargin

  /** Full retrain of a persisted ANN index — the maintenance action
    * [[annIndexDrift]] / [[annRetrainReport]] call for when grow +
    * [[compactAnnIndex]] are no longer enough: fold base ∪ appends with
    * global latest-wins upsert semantics (the [[compactAnnIndex]]
    * merge), train a FRESH codebook on the merged corpus (adaptive k
    * from the merged size — an index that grew past its regime boundary
    * gets more cells), re-assign every vector, and rewrite both
    * artifacts under the manifest invalidate-first / rewrite-last
    * bracket with staged-rename swaps. The manifest's `retrains` counter
    * is bumped and `compactions` resets — a retrain is a full rebuild,
    * so the fold audit starts over. Unlike compaction this IS a
    * whole-corpus job (two k-means passes per round plus the re-assign
    * shuffle into cell partitions) — which is why the flag telemetry
    * exists to decide when it is due rather than running it per batch. */
  def retrainAnnIndex(s: SparkSession, indexDir: String): Unit = {
    val m = graft.models.ModelManifest.validate(s, indexDir, "ann_ivf_index")
    graft.functions.VecFunctions.register(s)
    val vectors = mergedGrownCorpus(s, indexDir)
      .getOrElse(s.read.parquet(s"$indexDir/corpus"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .localCheckpoint() // training passes + the final assignment pass
    val codebook = trainCodebook(vectors)
    import s.implicits._
    graft.models.ModelManifest.invalidate(s, indexDir)
    graft.models.IndexMaintenance.stagedSwap(s, indexDir, "codebook", Nil) {
      staged =>
        codebook.map { case (cid, emb) => (cid, emb.toSeq) }
          .toDF("cell", "centroid")
          .repartition(1) // k×64 floats: one tiny file, read whole at serve time
          .write.mode("overwrite").parquet(staged)
    }
    graft.models.IndexMaintenance.stagedSwap(s, indexDir, "corpus",
      Seq("appended")) { staged =>
      assignCells(vectors, codebook)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(staged)
    }
    graft.models.ModelManifest.write(s, indexDir, "ann_ivf_index",
      m.sourceDir, m.tables, graft.models.IndexMaintenance.bumpRetrains(m,
        "cells" -> codebook.size.toString))
  }

  // ------------------------------------------------- retrieval enrichment
  /** ANN retrieval joined to document metadata — the enrichment join every
    * retrieval consumer runs after the neighbor search (RAG context
    * assembly, retrieval-eval labeling): each probe's cosine top-3 is
    * joined to the neighbor document's (lang, source) and flagged
    * `same_lang` against the probe's own language (the cross-lingual-
    * retrieval telemetry an embedding audit reads). `vec_id` is the
    * embeddings fixture's document key.
    *
    * Shape at scale: the neighbor search here is the brute-force baseline
    * (the fixture-exact oracle contract); a deployment swaps in the
    * LSH/IVF `Similarity` variants and keeps this unchanged enrichment
    * tail — two doc_id-keyed joins against a 3-column documents
    * projection, k rows per probe on the left, never corpus × corpus.
    */
  def annDocJoin(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    // nrm > 0 guard: same NaN-cosine totality contract as the trained
    // recall query and decontaminate_embedding
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .filter(expr("vec_norm(embedding)") > 0)
    val top = bruteTopk(e, 3)
    val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
    top
      .join(meta.as("n"), col("vec_id") === col("n.doc_id"))
      .join(meta.as("p"), col("qid") === col("p.doc_id"))
      .select(col("qid"), col("rank"), col("vec_id"), col("cosine"),
        col("n.lang").as("n_lang"), col("n.source").as("n_source"),
        (col("n.lang") === col("p.lang")).as("same_lang"))
      .orderBy("qid", "rank")
  }

  val annDocJoinSql: String =
    s"""WITH nz AS (
       |  SELECT * FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0),
       |scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM nz p JOIN nz q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored),
       |meta AS (SELECT doc_id, lang, source FROM documents)
       |SELECT r.qid, r.rank, r.vec_id, r.cosine,
       |  n.lang AS n_lang, n.source AS n_source,
       |  n.lang = p.lang AS same_lang
       |FROM ranked r
       |JOIN meta n ON r.vec_id = n.doc_id
       |JOIN meta p ON r.qid = p.doc_id
       |WHERE r.rank <= 3 ORDER BY r.qid, r.rank""".stripMargin

  // ------------------------------------------------------- quantization
  /** Int8 embedding quantization (the standard storage/serving compression
    * for vector corpora): per-vector symmetric scale amax/127, each
    * component `trunc(x·127/amax)` — truncation, not rounding, so the
    * contract has NO decimal-tie semantics for engines to disagree on.
    * Emitted as per-vector integer stats (sum/min/max of the quantized
    * components — integer-exact across engines) plus the 6-dp scale. Pure
    * per-row array expressions: one narrow pass, no shuffle, the shape
    * that quantizes a 100 TB corpus in one map stage.
    */
  def embeddingQuantize(s: SparkSession, d: String): DataFrame = {
    val amax = greatest(expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"),
      lit(1e-12))
    Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), amax.as("amax"))
      // Spark's double→long cast truncates toward zero — exactly DuckDB's
      // trunc(); Spark's own `trunc` is date-only
      .select(col("vec_id"), col("amax"), expr(
        "transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 127 / amax AS BIGINT))")
        .as("qvec"))
      .select(
        col("vec_id"),
        round(col("amax"), 6).as("scale_max"),
        expr("aggregate(qvec, CAST(0 AS BIGINT), (acc, q) -> acc + q)").as("q_sum"),
        array_min(col("qvec")).as("q_min"),
        array_max(col("qvec")).as("q_max"))
      .orderBy("vec_id")
  }

  val embeddingQuantizeSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS amax,
      |    embedding
      |  FROM embeddings),
      |qq AS (
      |  SELECT vec_id, amax,
      |    list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 127 / amax) AS BIGINT)) AS qvec
      |  FROM q)
      |SELECT vec_id,
      |  round(amax, 6) AS scale_max,
      |  CAST(list_sum(qvec) AS BIGINT) AS q_sum,
      |  CAST(list_min(qvec) AS BIGINT) AS q_min,
      |  CAST(list_max(qvec) AS BIGINT) AS q_max
      |FROM qq ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------- product quantization
  /** Subspaces the 64-dim embedding splits into (8 dims each). */
  private[operators] val PqSubspaces = 8
  /** Centroids per subspace (4-bit codes). */
  private[operators] val PqCentroids = 16
  private val PqDims = 64 / PqSubspaces

  /** Portable pseudo-random PQ centroid component for (subspace s,
    * centroid j, dim i within the subspace), in [-0.35, 0.35) — the
    * embedding components' observed range — via the same md5 derivation
    * as [[planeWeight]], so the DuckDB oracle reproduces every centroid
    * exactly. Like the untrained IVF codebook, these are fixed seeded
    * centroids: the operator contract under test is the encode/ADC
    * machinery; k-means-refined codebooks drop in the same way
    * `ann_ivf_trained_topk` refines `ann_ivf_topk` (engine-specific, so
    * no SQL oracle there by design).
    */
  private[graft] def pqCentroid(s: Int, j: Int, i: Int): Double =
    graft.functions.PqKernels.centroid(s, j, i)

  /** PQ codes frame shared by [[pqEncode]] and [[pqAdcTopk]]:
    * (vec_id, code_0..code_7). One narrow map stage — the shape that
    * encodes a 100 TB corpus embarrassingly parallel, after which the
    * corpus is 8 BYTES per vector (4 bits × 8 codes, stored as ints
    * here) for every downstream distance computation. The encode itself
    * is the native `pq_encode` kernel (`PqEncodeExpr`): the equivalent
    * Column tree — distance arrays built term by term, twice per argmin —
    * is ~12k expression nodes, which overflows janino's 64 KB method
    * limit and forces the whole stage onto the interpreted evaluator.
    */
  /** (vec_id, enc struct) — the ONE encode projection both [[pqCodes]] and
    * [[pqEncode]] derive from, so the encode path can never diverge
    * between the codes relation and the encode query. */
  private def pqEnc(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), expr("pq_encode(embedding)").as("enc"))
  }

  private def pqCodes(s: SparkSession, d: String): DataFrame =
    pqEnc(s, d)
      .select(col("vec_id") +:
        (0 until PqSubspaces).map(sub =>
          col("enc.codes").getItem(sub).as(s"code_$sub")): _*)

  /** Product-quantization encode (the missing third of the IVF-PQ serving
    * stack next to `ann_ivf_*` and `embedding_quantize`): 64 dims → 8
    * subspace codes of 4 bits against the portable seeded codebook, plus
    * the per-vector reconstruction error (the sum of the chosen cells'
    * squared distances — THE quantization-quality metric a deployment
    * monitors), rounded 4 dp for cross-engine hash parity. One
    * `pq_encode` kernel call per row (see [[pqCodes]] for why native).
    */
  def pqEncode(s: SparkSession, d: String): DataFrame =
    pqEnc(s, d)
      .select(col("vec_id") +:
        (0 until PqSubspaces).map(sub =>
          col("enc.codes").getItem(sub).as(s"code_$sub")) :+
        round(col("enc.recon_err"), 4).as("recon_err"): _*)
      .orderBy("vec_id")

  private def pqDistSql(v: String, s: Int, j: Int): String =
    (0 until PqDims).map { i =>
      // explicit self-multiply, not power(x, 2): guarantees the identical
      // single-rounding Spark's `e * e` performs
      val e = s"(CAST($v[${s * PqDims + i + 1}] AS DOUBLE) - (${pqCentroid(s, j, i)}))"
      s"$e * $e"
    }.mkString("(", " + ", ")")

  private def pqDistsSql(v: String, s: Int): String =
    (0 until PqCentroids).map(j => pqDistSql(v, s, j)).mkString("[", ", ", "]")

  val pqEncodeSql: String = {
    val codes = (0 until PqSubspaces).map { s =>
      s"CAST(list_position(d$s, list_min(d$s)) - 1 AS INTEGER) AS code_$s"
    }.mkString(",\n  ")
    val dists = (0 until PqSubspaces).map(s =>
      s"${pqDistsSql("embedding", s)} AS d$s").mkString(",\n  ")
    val err = (0 until PqSubspaces).map(s => s"list_min(d$s)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT vec_id,
       |  $dists
       |  FROM embeddings)
       |SELECT vec_id,
       |  $codes,
       |  round($err, 4) AS recon_err
       |FROM d ORDER BY vec_id""".stripMargin
  }

  /** ADC (asymmetric distance computation) top-k — the PQ serving
    * pattern: each query vector computes one 16-entry distance table per
    * subspace against the codebook (128 doubles per query, independent
    * of corpus size), and every corpus vector is scored by EIGHT table
    * lookups on its codes — the full-precision embedding column is never
    * read on the corpus side. At scale the codes relation is the only
    * corpus-sized input (8 bytes/vector), the query side broadcasts, and
    * the scan is the cheapest possible: integer lookups into broadcast
    * literals. Round-before-rank (4 dp) per the oracle-parity rules.
    */
  def pqAdcTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val codes = pqCodes(s, d)
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        expr("pq_dist_tables(embedding)").as("dts"))
    val adc = (0 until PqSubspaces).map(sub =>
      element_at(element_at(col("dts"), sub + 1), col(s"code_$sub") + 1))
      .reduce(_ + _)
    // rank <= 3 as the ASCENDING bounded top-k aggregate (r18): the
    // window form's partial WindowGroupLimit already bounded the exchange
    // rows, but it paid a FULL partition-local sort of the scored stream
    // (the plan's Sort under WindowGroupLimit) — the aggregate replaces
    // that sort with one comparison against the running 3rd-best per row.
    // Ascending-distance rank equivalence (NaN last under asc, ±0.0 ties
    // to vec_id) is the BoundedTopK contract.
    queries.join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(adc, 4).as("adc"))
      .transform(topkByQid(3, ByAdc))
      .select("qid", "rank", "vec_id", "adc")
      .orderBy("qid", "rank")
  }

  val pqAdcTopkSql: String = {
    val dtables = (0 until PqSubspaces).map(s =>
      s"${pqDistsSql("embedding", s)} AS dt_$s").mkString(",\n  ")
    val codes = (0 until PqSubspaces).map { s =>
      s"CAST(list_position(${pqDistsSql("embedding", s)}, list_min(${pqDistsSql("embedding", s)})) - 1 AS INTEGER) AS code_$s"
    }.mkString(",\n  ")
    val adc = (0 until PqSubspaces).map(s => s"q.dt_$s[c.code_$s + 1]").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid,
       |  $dtables
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |c AS (
       |  SELECT vec_id,
       |  $codes
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.qid, c.vec_id, round($adc, 4) AS adc
       |  FROM q, c WHERE c.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, adc FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** Two-stage PQ serving (ADC recall pass → exact rerank): the ADC scan
    * produces a candidate pool (top-10 by approximate distance over the
    * 8-byte codes), and only the pool's full-precision vectors are
    * fetched and rescored by exact cosine for the final top-3 — the
    * standard refine pattern that buys exact-ranking quality while the
    * corpus-sized scan still touches nothing but codes. At 100 TB the
    * rerank join fetches pool×queries rows by id (a semi-join against the
    * corpus), so precision costs are proportional to the POOL, never the
    * corpus. Fully deterministic (rounded ADC + rounded cosine + id
    * tiebreaks) → DuckDB-oracle-checked end to end.
    */
  def pqAdcRerankTopk(s: SparkSession, d: String): DataFrame = {
    val (codes, emb) = pqServingCorpus(s, d)
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    adcRerank(queries, codes, emb).orderBy("qid", "rank")
  }

  /** The static PQ serving corpus: (codes relation, full-precision
    * embeddings) — the pair every ADC consumer (batch [[pqAdcRerankTopk]],
    * the streaming enrichment twin in `streaming.Streams`) probes. Codes
    * are 8 bytes/vector; the embedding relation is touched only for
    * rerank-pool fetches. */
  private[graft] def pqServingCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (pqCodes(s, d), Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  /** Shared ADC→rerank composition over an arbitrary query relation
    * `(qid, qemb: array<float>)` — the seam that gives the batch query and
    * its streaming micro-batch twin the IDENTICAL plan (replay-parity
    * spec-pinned). Corpus-sized stage carries only (qid, vec_id, adc); the
    * query embedding re-joins AFTER the pool cut (`poolN` rows/query), so
    * the pool window's exchange stays codes-thin instead of dragging a
    * 64-float qemb through every scored row. The pool join's query side
    * (128 doubles/query) goes through autoBroadcastJoinThreshold — tiny
    * micro-batches broadcast, a corpus-scale query set flips to the
    * shuffle path; only the post-cut rerank fetch forces broadcast of the
    * (by then pool-bounded) query embeddings.
    */
  private[graft] def adcRerank(queries: DataFrame, codes: DataFrame,
      corpusEmb: DataFrame, poolN: Int = 10, k: Int = 3): DataFrame = {
    graft.functions.VecFunctions.register(queries.sparkSession)
    val q = queries.select(col("qid"), expr("pq_dist_tables(qemb)").as("dts"))
    val adc = (0 until PqSubspaces).map(sub =>
      element_at(element_at(col("dts"), sub + 1), col(s"code_$sub") + 1))
      .reduce(_ + _)
    // both ranks as bounded top-k aggregates (r18): the pool rank is the
    // corpus-sized stage — the ascending aggregate drops the full
    // partition-local sort the WindowGroupLimit form paid and reduces to
    // <= poolN rows per probe map-side; the final rerank rank is
    // pool-bounded and reuses the shared [[topkByQid]] fold.
    val pool = q.join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(adc, 4).as("adc"))
      .transform(topkByQid(poolN, ByAdc))
      .select("qid", "vec_id")
    pool
      .join(broadcast(queries), Seq("qid"))
      .join(corpusEmb, Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qemb"), col("embedding")), 4).as("cosine"))
      .transform(topkByQid(k))
      .select("qid", "rank", "vec_id", "cosine")
  }

  val pqAdcRerankTopkSql: String = {
    val dtables = (0 until PqSubspaces).map(s =>
      s"${pqDistsSql("embedding", s)} AS dt_$s").mkString(",\n  ")
    val codes = (0 until PqSubspaces).map { s =>
      s"CAST(list_position(${pqDistsSql("embedding", s)}, list_min(${pqDistsSql("embedding", s)})) - 1 AS INTEGER) AS code_$s"
    }.mkString(",\n  ")
    val adc = (0 until PqSubspaces).map(s => s"q.dt_$s[c.code_$s + 1]").mkString(" + ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding,
       |  $dtables
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |c AS (
       |  SELECT vec_id,
       |  $codes
       |  FROM embeddings),
       |pool AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, c.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round($adc, 4), c.vec_id) AS prank
       |    FROM q, c WHERE c.vec_id <> q.qid)
       |  WHERE prank <= 10),
       |rescored AS (
       |  SELECT pool.qid, pool.vec_id, $cosineSqlPQ AS cosine
       |  FROM pool
       |  JOIN embeddings p ON p.vec_id = pool.qid
       |  JOIN embeddings q ON q.vec_id = pool.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM rescored)
       |SELECT qid, rank, vec_id, cosine FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  // ------------------------------------------------------- IVF-PQ (IVFADC)
  /** Rounded-cosine cell assignment against a driver-held codebook as ONE
    * narrow projection (the [[assignCells]] shape, plus the 6-dp rounding
    * that lets the DuckDB oracle agree at every argmax boundary): each
    * centroid becomes a literal float array, the argmax a `greatest` over
    * (sim, -cid) structs — no join, no window, no shuffle.
    */
  private def assignCellRounded(
      codebook: Seq[(Int, Array[Float])]): Column = {
    val sims = codebook.map { case (cid, emb) =>
      val cnrm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
      val dot = expr(
        s"vec_dot(embedding, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
      struct(round(dot / (col("nrm") * lit(cnrm)), 6).as("sim"),
        lit(-cid).as("negc"))
    }
    (greatest(sims: _*).getField("negc") * -1).cast("long")
  }

  /** Frame-level rounded-cosine cell assignment — appends `cell` to `e`
    * (which must carry `embedding` and `nrm`), taking the literal
    * projection at small k and the broadcast-join argmax (the
    * [[assignCells]] large-k path, with the 6-dp rounding) beyond
    * [[LiteralAssignMaxCells]]. */
  private def withCellRounded(e: DataFrame,
      codebook: Seq[(Int, Array[Float])]): DataFrame =
    if (codebook.size <= LiteralAssignMaxCells)
      e.withColumn("cell", assignCellRounded(codebook))
    else {
      val sk = struct(
        round(expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm")), 6)
          .as("sim"),
        (-col("cid")).as("negc"))
      val cand = struct(sk.as("sk") +: e.columns.map(c => col(c).as(c)): _*)
      e.join(broadcast(centsFrame(e.sparkSession, codebook)))
        .select(col("vec_id").as("gid"), cand.as("cand"))
        .groupBy("gid").agg(max(col("cand")).as("w"))
        .select(e.columns.map(c => col(s"w.$c").as(c)) :+
          (col("w.sk.negc") * -1).cast("long").as("cell"): _*)
    }

  /** IVF-PQ serving stack (the FAISS "IVFADC" composition — coarse cell
    * routing from [[annIvfTopk]] + asymmetric-distance scoring from
    * [[pqAdcTopk]]): ONE narrow encode pass reads the full-precision
    * embedding and emits (cell, code_0..code_7) — ~12 bytes per corpus
    * vector — after which the embedding column is never touched again.
    * Queries (1% of rows) carry their cell plus eight 16-entry distance
    * tables; candidates are only the query's own cell (work ∝ cell
    * population, not corpus), each scored by eight integer table lookups.
    * At 100 TB this is the shape that serves: the corpus-sized shuffle
    * input is the codes relation, the coarse codebook is k×64 driver-held
    * doubles, and recall is tuned by cells probed × PQ bits — both knobs
    * orthogonal to corpus size. Fully deterministic (seeded centroids,
    * rounded argmax/rank boundaries), so unlike most ANN engines the
    * whole composition is DuckDB-oracle-checked, not just spec'd.
    */
  def annIvfPqTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val codebook: Seq[(Int, Array[Float])] = Tables.embeddings(s, d)
      .filter(col("vec_id") < ivfCells(Tables.embeddings(s, d).count()))
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id").toInt,
        r.getAs[Seq[Float]]("embedding").toArray)).toSeq
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        expr("vec_norm(embedding)").as("nrm"))
    val corpus = withCellRounded(e, codebook)
      .select(col("vec_id"), col("cell"),
        expr("pq_encode(embedding)").as("enc"))
      .select(col("vec_id") +: col("cell") +:
        (0 until PqSubspaces).map(sub =>
          col("enc.codes").getItem(sub).as(s"code_$sub")): _*)
    val q = withCellRounded(e.filter(col("vec_id") % 100 === 0), codebook)
      .select(col("vec_id").as("qid"), col("cell"),
        expr("pq_dist_tables(embedding)").as("dts"))
    val adc = (0 until PqSubspaces).map(sub =>
      element_at(element_at(col("dts"), sub + 1), col(s"code_$sub") + 1))
      .reduce(_ + _)
    // ascending bounded top-k with the per-candidate cell as payload
    // (r18): same sort-elimination as [[pqAdcTopk]], same payload
    // rationale as [[serveCells]] — candidates are the probe's own cell,
    // so (qid, vec_id) is unique and the cell rides the aggregate.
    q.join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(adc, 4).as("adc"), col("cell"))
      .transform(topkByQid(3, ByAdc, carried = Seq("cell")))
      .select("qid", "cell", "rank", "vec_id", "adc")
      .orderBy("qid", "rank")
  }

  val annIvfPqTopkSql: String = {
    val cosPC =
      """round(
        |  list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.cemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |  6)""".stripMargin
    val codes = (0 until PqSubspaces).map { s =>
      s"CAST(list_position(${pqDistsSql("e.embedding", s)}, list_min(${pqDistsSql("e.embedding", s)})) - 1 AS INTEGER) AS code_$s"
    }.mkString(",\n  ")
    val dtables = (0 until PqSubspaces).map(s =>
      s"${pqDistsSql("e.embedding", s)} AS dt_$s").mkString(",\n  ")
    val adc = (0 until PqSubspaces).map(s => s"q.dt_$s[c.code_$s + 1]").mkString(" + ")
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < $ivfCellsSql),
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY $cosPC DESC, c.cid) AS arn
       |    FROM embeddings v CROSS JOIN cents c)
       |  WHERE arn = 1),
       |c AS (
       |  SELECT e.vec_id, a.cell,
       |  $codes
       |  FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id),
       |q AS (
       |  SELECT e.vec_id AS qid, a.cell,
       |  $dtables
       |  FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
       |  WHERE e.vec_id % 100 = 0),
       |scored AS (
       |  SELECT q.qid, q.cell, c.vec_id, round($adc, 4) AS adc
       |  FROM q JOIN c ON c.cell = q.cell AND c.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, cell, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, cell, rank, vec_id, adc FROM ranked
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  // ------------------------------------------------- hard-negative mining
  /** Hard-negative triplet mining — the contrastive-training data op
    * (DPR/SBERT recipe: each anchor trains against its nearest neighbor
    * as the positive and NEAR-but-not-nearest neighbors as hard
    * negatives, which carry far more gradient signal than random
    * negatives): for every probe anchor, emit (anchor, positive = rank 1,
    * hard negative = ranks 2–3) pairs with both cosines and the margin
    * the triplet loss would see. Built on the same [[bruteTopk]] seam as
    * `ann_bruteforce_topk` — at scale the anchor search swaps to the
    * LSH/IVF variants with this reshaping tail unchanged.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val top = bruteTopk(Tables.parallelize(s, Tables.embeddings(s, d)), 3)
      .localCheckpoint() // read by both sides of the positive×negative join
    val pos = top.filter(col("rank") === 1)
      .select(col("qid"), col("vec_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = top.filter(col("rank") > 1)
      .select(col("qid"), col("rank").as("neg_rank"),
        col("vec_id").as("neg_id"), col("cosine").as("neg_cos"))
    pos.join(neg, "qid")
      .select(col("qid"), col("pos_id"), col("pos_cos"),
        col("neg_rank"), col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 4).as("margin"))
      .orderBy("qid", "neg_rank")
  }

  val hardNegativesSql: String =
    s"""WITH scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM embeddings p JOIN embeddings q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
       |      AS INTEGER) AS rank
       |  FROM scored),
       |pos AS (SELECT qid, vec_id AS pos_id, cosine AS pos_cos
       |        FROM ranked WHERE rank = 1),
       |neg AS (SELECT qid, rank AS neg_rank, vec_id AS neg_id, cosine AS neg_cos
       |        FROM ranked WHERE rank IN (2, 3))
       |SELECT pos.qid, pos_id, pos_cos, neg_rank, neg_id, neg_cos,
       |  round(pos_cos - neg_cos, 4) AS margin
       |FROM pos JOIN neg ON pos.qid = neg.qid
       |ORDER BY pos.qid, neg_rank""".stripMargin

  // ------------------------------------------------------- semantic dedup
  /** Near-dup cosine threshold for [[semdedupPrune]] — the
    * `dedup_embedding` contract (one definition of "embedding near-dup"
    * across the family). */
  private val SemdedupThreshold = 0.4

  /** Occupancy bound past which a cell's members get a SECOND-level
    * residual sub-assignment before the within-cell pair join (r17 — the
    * knee drill's finding): once [[IvfMaxCells]] pins k, mean occupancy
    * resumes growing ∝ n/cap and the pair join's CANDIDATE mass is
    * n²/(2·cap) — quadratic, and row-plumbing-priced (the same
    * per-candidate-row cost that motivated [[CellArgmax]]). The cap-1024
    * knee ladder measured it directly: past-knee local exponents 1.35
    * (m = 2) and 1.68 (m = 4) on a fixture with PROVABLY linear true-dup
    * mass. Splitting only cells above this bound into
    * ceil(occ/bound)-way residual sub-cells puts per-scope occupancy
    * back at ~cap, so candidate mass returns to n·cap/2 — linear — while
    * cold cells keep byte-identical behavior (every oracle fixture and
    * the sf1 sweep corpus sit far below the bound; the split is
    * unreachable there by construction). Tied to [[IvfMaxCells]] so the
    * drill-scale cap override moves the bound with the knee.
    * `SPARK_GRAFT_SUBSPLIT=0` disables it — the before/after A/B knob. */
  private[graft] val SubSplitOccBound: Long = IvfMaxCells.toLong
  private[graft] val SubSplitEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_SUBSPLIT").contains("0")

  /** Census sample target for the occupancy estimate that drives
    * [[subSplitPlan]]: corpora at or under it are censused EXACTLY (every
    * oracle fixture — the split decision there is deterministic fact, not
    * estimate); above it a deterministic xxhash64 slice of ~this many
    * vectors estimates occupancy with ≤ ~12% relative error on any cell
    * near the bound (≥ 64 sampled members at the bound crossing), which
    * only jitters the split decision where splitting is a wash anyway.
    * The census pays 1/step of one assignment pass — at 16.8M vectors a
    * full-census pass would cost more than the split saves at m = 2. */
  private[graft] val SubSplitCensusSample = 262144L

  /** Per-JVM cache of the (hot cells, k2) sub-split decision, keyed by
    * corpus dir + content stamp (the [[trainedCodebooks]] discipline) —
    * see the census note in [[semdedupBase]]. */
  private val subSplitPlanCached =
    scala.collection.concurrent.TrieMap.empty[String, (Set[Int], Int)]

  /** The split decision as a pure function of the (possibly estimated)
    * occupancy census: cells above [[SubSplitOccBound]] split, all into a
    * UNIFORM k2 = ceil(max hot occupancy / bound) sub-cells (min 2, capped
    * at [[IvfMaxCells]] — one global residual codebook serves every hot
    * cell, so driver/broadcast state stays k + k2 centroids, never k×k2).
    * Uniform k2 over-splits mildly-hot cells when occupancy is skewed —
    * a recall trade documented here rather than hidden: per-cell k2 would
    * need per-row argmax prefixes the assignment expressions don't carry.
    * Returns (hot cell ids, k2); (∅, 1) when nothing crosses the bound. */
  private[graft] def subSplitPlan(occ: Map[Int, Long]): (Set[Int], Int) = {
    val hot = occ.filter(_._2 > SubSplitOccBound)
    if (hot.isEmpty || !SubSplitEnabled) (Set.empty, 1)
    else {
      val k2 = math.min(IvfMaxCells.toLong, math.max(2L,
        math.ceil(hot.values.max.toDouble / SubSplitOccBound).toLong)).toInt
      (hot.keySet, k2)
    }
  }

  /** Residual-argmax column for the sub-assignment — scores the columns
    * `res` (the vector minus its L1 centroid) and `rnrm` against the
    * global residual codebook, mirroring [[assignCells]]'s literal/native
    * split: ≤ [[LiteralAssignMaxCells]] sub-cells stay a codegen'd
    * `greatest` over literal centroid arrays; larger k2 takes the single
    * [[CellArgmax]] expression. Callers must have `res`/`rnrm` in scope. */
  private def subArgmaxCol(resCodebook: Seq[(Int, Array[Float])]): Column =
    if (resCodebook.size <= LiteralAssignMaxCells) {
      val sims = resCodebook.map { case (cid, emb) =>
        val cnorm = math.sqrt(emb.map(v => v.toDouble * v.toDouble).sum)
        val dot = expr(
          s"vec_dot(res, CAST(array(${emb.mkString(",")}) AS ARRAY<FLOAT>))")
        struct((dot / (col("rnrm") * lit(cnorm))).as("sim"), lit(-cid).as("negc"))
      }
      greatest(sims: _*).getField("negc") * -1
    } else {
      import org.apache.spark.sql.GraftBridge.{column, expression}
      column(graft.functions.CellArgmax(
        expression(col("res")), expression(col("rnrm")), resCodebook.toArray))
        .getField("cell")
    }

  /** Per-vector SemDeDup flag frame `(vec_id, embedding, nrm, cell, csim,
    * sub, dropped)` — the production path of [[semdedupPrune]] (Abbas et al.
    * 2023: cluster the embedding space with k-means, then prune
    * near-duplicates WITHIN each cluster, keeping the member least
    * similar to its centroid — the most atypical copy carries the most
    * diversity). The keep rule is local and deterministic: a vector is
    * dropped iff some same-scope neighbor at cosine ≥ threshold has a
    * strictly lower (centroid-cosine, vec_id) key — so every within-scope
    * dup component keeps its (csim, id)-minimal member, and pair
    * comparison never needs iteration or a window. The SCOPE is the cell
    * below the [[SubSplitOccBound]] occupancy bound (`sub` = 0 — every
    * oracle fixture), and the (cell, residual sub-cell) pair above it —
    * the same clustering-approximation dial k itself turns, one level
    * finer, engaged only where the capped codebook would otherwise let
    * within-cell candidate mass grow quadratically.
    *
    * Shape at scale: THE point of SemDeDup — pairwise work is confined
    * to scopes (occupancy pinned near cap by the sub-split, so candidate
    * mass stays ~n·cap/2 = linear), the k-means passes are the
    * bounded-codebook collect class, and the verdict frame is one
    * scope-keyed exchange + one anti-join against the dropped set.
    */
  private[graft] def semdedupFlags(s: SparkSession, d: String): DataFrame =
    semdedupBase(s, d)._2

  /** Spec-only entry forcing the sub-split plan (see the [[semdedupBase]]
    * `forcedPlan` note — fixture-scale corpora cannot reach a hot cell
    * organically). */
  private[graft] def semdedupFlagsSplit(s: SparkSession, d: String,
      hotCells: Set[Int], k2: Int): DataFrame =
    semdedupBase(s, d, Some((hotCells, k2)))._2

  /** The semdedup family's (training frame, cache key) pair in ONE place —
    * [[semdedupBase]] consumes it inline, and [[graft.tools.KneeDrill]]
    * calls it directly as a TRAIN-ONLY warm-up: at the full-cap knee rungs
    * (n ≥ 8.4M) a whole-prune warm-up costs ~an hour whose only purpose
    * beyond training is JIT warmth worth a few seconds — so the drill
    * warms the codebook alone and times the first full prune. Sharing the
    * key construction here (not duplicating it in the tool) is what keeps
    * the drill's warm-up hitting the exact cache entry the timed
    * `semdedup_prune` call reads. */
  private[graft] def semdedupCodebook(s: SparkSession,
      d: String): Seq[(Int, Array[Float])] = {
    graft.functions.VecFunctions.register(s)
    trainCodebookCached({
      val base = Tables.parallelize(s, Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
        .filter(col("nrm") > 0) // the NaN-cosine guard (decontaminate_embedding contract)
      if (Tables.embeddings(s, d).count() <= KmeansTrainSample)
        base.localCheckpoint()
      else base
    }, s"$d#nrm#${corpusStamp(s, d)}")
  }

  /** The codebook + flag-frame pair behind [[semdedupFlags]] — split out so
    * [[writeSemdedupIndex]] can persist the codebook it trained instead of
    * training twice. */
  /** `forcedPlan` (spec-only, threaded through
    * [[semdedupFlagsSplit]]): a hot cell needs occupancy > cap², which no
    * fixture-scale corpus can reach — k-means spreads any blob across its
    * k cells until k pins at the cap — so the split-path integration spec
    * injects the (hotCells, k2) decision and the census is skipped.
    * Production callers always pass None and take the census. */
  private def semdedupBase(s: SparkSession, d: String,
      forcedPlan: Option[(Set[Int], Int)] = None)
      : (Seq[(Int, Array[Float])], DataFrame) = {
    graft.functions.VecFunctions.register(s)
    // the training frame exists only inside the by-name argument: a
    // cached codebook skips building it entirely. CHECKPOINTED only in
    // the UNSAMPLED regime (n ≤ [[KmeansTrainSample]], r17 narrowing the
    // r16 restore): below the bound trainCodebook's k-means loop re-reads
    // this frame (scan + vec_norm + parallelize exchange) EVERY round —
    // the ×100 drill corpus (200k vectors, the largest unsampled n)
    // measured the COLD, codebook-cache-empty build at ~30 s
    // uncheckpointed vs ~16 s checkpointed (the r15 cold-pass uptick and
    // its fix; WARM drill legs never see the difference — the codebook
    // cache takes training out of every timed run after the first, which
    // is why the r16 bisection's warm min-of-3 sat at 30–34 s on the
    // regressed CellArgmax binary regardless of this checkpoint, 33.3 s
    // on the restore attempt — that band was the CellArgmax regression,
    // not a checkpoint effect). PAST the bound the training loop reads
    // its own sample checkpoint and this frame only twice (the sizing
    // count + the slice build) — a full-corpus materialization would
    // serve nothing there (ADVICE r16), so large corpora skip it and the
    // decision reads the parquet footer count (an upper bound of the
    // nrm-filtered n: at worst a corpus a hair under the bound goes
    // unsampled-but-uncheckpointed, paying cold re-scans, never wrong
    // results).
    val codebook = semdedupCodebook(s, d)
    // the heavy vec_dot passes run over SCAN-BACKED frames, never the
    // checkpoint: checkpointed rows deserialize their float arrays out of
    // the unsafe format and the pairwise kernel loses whole-stage speed —
    // measured 4-5× on the all-pairs pass at sf0.1. Re-deriving the
    // assignment projection per consumer re-scans 2000 parquet rows,
    // which is noise next to that.
    val fresh = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
      .filter(col("nrm") > 0)
    // occupancy census for the sub-split decision ([[subSplitPlan]]):
    // exact at or under the sample bound (every oracle fixture), a
    // deterministic hash-slice estimate above it — the estimate pays
    // 1/step of one assignment pass, and the collect is ≤ k rows.
    // Cached per (corpus dir, content stamp) under the codebook-cache
    // discipline (r17): the census is a deterministic function of the
    // corpus and its (cached, equally deterministic) codebook, so
    // re-running the assignment pass + collect on every warm invocation
    // measured one full extra pass per `semdedup_prune` call for a
    // decision that cannot change while the corpus doesn't. A rewritten
    // corpus re-censuses via the stamp, exactly like retraining.
    val (hotCells, k2) = forcedPlan.getOrElse {
      subSplitPlanCached.getOrElseUpdate(s"$d#census#${corpusStamp(s, d)}", {
        val nFooter = Tables.embeddings(s, d).count()
        val censusStep = math.max(1L, nFooter / SubSplitCensusSample)
        val censusRows =
          if (censusStep == 1L) fresh
          else fresh.filter(pmod(xxhash64(col("vec_id")), lit(censusStep)) === 0L)
        val occ = assignCells(censusRows, codebook).groupBy("cell").count()
          .collect()
          .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("count") * censusStep)
          .toMap
        subSplitPlan(occ)
      })
    }
    val assigned = assignCells(fresh, codebook)
    // sub = the second-level residual cell for members of hot cells, 0
    // everywhere else (and for zero-residual rows — a vector sitting ON
    // its centroid belongs with the cell's bulk, not its own scope). The
    // residual codebook is global (one k2-codebook serves every hot
    // cell), trained by the same sampled k-means machinery under the same
    // per-corpus cache, keyed with k2 so a census shift retrains rather
    // than serving a stale size.
    val assignedSub =
      if (hotCells.isEmpty) assigned.withColumn("sub", lit(0))
      else {
        val cents = centsFrame(s, codebook)
          .select(col("cid").as("cell"), col("cemb"))
        val resCodebook = trainCodebookCached({
          assigned.filter(col("cell").isInCollection(hotCells))
            .join(broadcast(cents), Seq("cell"))
            .select(col("vec_id"),
              expr("zip_with(embedding, cemb, (x, c) -> x - c)").as("embedding"))
            .withColumn("nrm", expr("vec_norm(embedding)"))
            .filter(col("nrm") > 0)
        }, s"$d#res$k2#${corpusStamp(s, d)}", Some(k2))
        assigned.join(broadcast(cents), Seq("cell"), "left")
          .withColumn("res", expr("zip_with(embedding, cemb, (x, c) -> x - c)"))
          .withColumn("rnrm", expr("vec_norm(res)"))
          .withColumn("sub",
            when(col("cell").isInCollection(hotCells) && col("rnrm") > 0,
              subArgmaxCol(resCodebook)).otherwise(lit(0)))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cell"), col("csim"), col("sub"))
      }
    val pairs = assignedSub.as("p").join(assignedSub.as("q"),
        col("p.cell") === col("q.cell") && col("p.sub") === col("q.sub") &&
          col("p.vec_id") < col("q.vec_id"))
      .select(col("p.vec_id").as("a"), col("q.vec_id").as("b"),
        col("p.csim").as("ca"), col("q.csim").as("cb"),
        round(expr("vec_dot(p.embedding, q.embedding)") / (col("p.nrm") * col("q.nrm")), 4)
          .as("cosine"))
      .filter(col("cosine") >= SemdedupThreshold)
    // the dropped id set IS checkpointed: it is array-free (ids only, ∝
    // near-dup density) and every flag consumer reuses it without
    // re-running the within-cell pair join
    val dropped = pairs
      .select(when(struct(col("ca"), col("a")) > struct(col("cb"), col("b")),
        col("a")).otherwise(col("b")).as("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(true))
      .localCheckpoint()
    val flags = assignedSub.join(broadcast(dropped), Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        col("csim"), col("sub"),
        coalesce(col("is_dropped"), lit(false)).as("dropped"))
    (codebook, flags)
  }

  /** Oracle-closed registered form of SemDeDup — the trained-IVF verdict
    * pattern (`ann_ivf_trained_topk`): cluster membership and the
    * dropped set depend on k-means internals DuckDB can never reproduce,
    * so the COMPARED frame carries only engine-portable truths — the
    * corpus size and the PROBE-ANCHORED near-dup pair count at the
    * `dedup_embedding` threshold: ordered pairs whose lower id lies in
    * the fixed first-[[SemdedupProbes]]-ids panel, a relation both
    * engines compute verbatim in O(probes · n) (the r12 drill caught the
    * previous global all-pairs bookkeeping at exponent 1.6 — the one
    * quadratic left in the query after the adaptive-k fix made the
    * production prune cell-bounded) — plus four verdicts computed
    * in-frame:
    *
    *   - `conservation_ok`: kept + dropped = corpus (no row vanishes
    *     into a NULL flag). PROVABLE.
    *   - `resolved_ok`: every CO-SCOPED (same cell AND same sub-cell —
    *     identical to same-cell below the sub-split bound) true probe
    *     pair lost at least one member. PROVABLE: the pair itself forces
    *     its (csim, id)-max member into the dropped set.
    *   - `dropped_have_neighbor_ok`: every dropped PROBE has a same-scope
    *     neighbor at ≥ threshold (its own O(probes · occupancy) join,
    *     both id orders). PROVABLE: only such pairs generate drops.
    *   - `coclustered_floor_ok`: the share of true probe pairs the
    *     clustering co-locates (SemDeDup's recall knob — a pair split
    *     across cells is invisible to the prune) is at least
    *     [[SemdedupCoclusterFloorPct]]%.
    *     Fixture-calibrated with margin; a degenerate codebook (all
    *     vectors one cell would pass here but fail the ann recall floor;
    *     near-random scatter fails this one) turns the row red.
    *
    * The oracle asserts all four as literals. Raw per-vector flags stay
    * available as [[semdedupFlags]] (spec-checked brute-force).
    */
  def semdedupPrune(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    // scan-backed (NOT checkpointed — the semdedupBase note): the heavy
    // pair kernels keep their unsafe-array fast path, and the branches
    // that reuse flags re-derive a cheap 2000-row projection
    semdedupVerdicts(semdedupFlags(s, d))
  }

  /** The verdict frame over a flags frame — split from [[semdedupPrune]]
    * so the sub-split integration spec can run the identical verdict
    * arithmetic over a [[semdedupFlagsSplit]] frame. */
  private[graft] def semdedupVerdicts(flags: DataFrame): DataFrame = {
    // ONE probe-anchored pair pass feeds the truth counts, the resolution
    // verdict, AND the orphan check's co-clustered id set. The probe set
    // is the FIXED first-[[SemdedupProbes]]-ids slice (engine-portable:
    // the DuckDB oracle selects the identical rows), so truth bookkeeping
    // is O(probes · n) — the r12 drill caught the previous GLOBAL
    // all-pairs pass at exponent 1.6: the production prune had become
    // cell-bounded (adaptive k) while the verdict harness itself was the
    // one quadratic left in the query. A fixed-size probe panel is the
    // standard statistical gate at corpus scale: 200 anchors give the
    // co-cluster floor thousands of pair samples at any SF, and every
    // PROVABLE verdict below is stated over the probe family, where it
    // remains provable.
    // doc conservation stats ride the truth-pass checkpoint job as
    // observed metrics (r18, the dedupClusters mover-count discipline):
    // the truth join's STREAMED side scans every flags row exactly once,
    // so counting docs/dropped/kept there replaces the separate
    // full-corpus docStats aggregate job. The three counts are still
    // MEASURED off the flags relation (not derived from each other), so
    // the conservation verdict keeps its bite; the count fallback keeps
    // the verdicts correct if the async metric never lands.
    val docObs = org.apache.spark.sql.Observation()
    val pairObs = org.apache.spark.sql.Observation()
    val truePairs = broadcast(flags.filter(col("vec_id") < SemdedupProbes).as("p"))
      .join(flags.observe(docObs,
          count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("dropped"), 1L).otherwise(0L)), lit(0L))
            .as("n_dropped"),
          coalesce(sum(when(!col("dropped"), 1L).otherwise(0L)), lit(0L))
            .as("n_kept"),
          // the orphan check's flag-path side (≤ [[SemdedupProbes]] ids)
          // rides the same pass — bounded-collect class
          collect_set(when(col("dropped") && col("vec_id") < SemdedupProbes,
            col("vec_id"))).as("dropped_probes"))
        .as("q"), col("p.vec_id") < col("q.vec_id"))
      .select(
        col("p.vec_id").as("a"), col("q.vec_id").as("b"),
        // per-side drop flags (r18): the orphan check below reads them
        // off this one pass instead of running its own probe×corpus join
        col("p.dropped").as("a_dropped"), col("q.dropped").as("b_dropped"),
        // "co-clustered" = same EFFECTIVE prune scope (cell, sub): the
        // verdicts quantify over the pairs the prune actually compares.
        // Below the sub-split bound sub ≡ 0 and this is exactly the old
        // same-cell predicate (every oracle fixture).
        (col("p.cell") === col("q.cell") && col("p.sub") === col("q.sub"))
          .as("same_cell"),
        round(expr("vec_dot(p.embedding, q.embedding)") / (col("p.nrm") * col("q.nrm")), 4)
          .as("cosine"))
      .filter(col("cosine") >= SemdedupThreshold)
      // ALL pair-level verdict inputs ride the SAME checkpoint job as a
      // second observation (r18): the counts/sums feed the co-cluster and
      // resolution verdicts, the two collect_sets are the orphan check's
      // neighbor evidence — every qualifying pair involving a probe
      // appears in this family (a neighbor with a SMALLER id than a
      // probe is itself a probe: ids below [[SemdedupProbes]] are exactly
      // the panel), so the neighbored-probe id set is ≤ probes values,
      // the bounded-collect class. Sums coalesced: on a corpus with ZERO
      // qualifying pairs NULL sums would vanish a verdict instead of
      // TRUE — the NULL-verdict class the quality gate's totality fix
      // closed.
      .observe(pairObs,
        count(lit(1)).as("n_probe_pairs"),
        coalesce(sum(when(col("same_cell"), 1L).otherwise(0L)), lit(0L))
          .as("n_coclustered"),
        coalesce(sum(when(col("same_cell") &&
            (col("a_dropped") || col("b_dropped")), 1L).otherwise(0L)),
          lit(0L)).as("n_resolved"),
        collect_set(when(col("same_cell") && col("a_dropped"), col("a")))
          .as("nb_a"),
        collect_set(when(col("same_cell") && col("b_dropped") &&
          col("b") < SemdedupProbes, col("b"))).as("nb_b"))
      .localCheckpoint()
    lazy val docFallback = flags.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col("dropped"), 1L).otherwise(0L)), lit(0L)).as("n_dropped"),
      coalesce(sum(when(!col("dropped"), 1L).otherwise(0L)), lit(0L)).as("n_kept"))
      .collect()(0)
    import org.apache.spark.sql.GraftBridge.observedLong
    val nDocs = observedLong(docObs, "n_docs")(docFallback.getAs[Long]("n_docs"))
    val nDropped = observedLong(docObs, "n_dropped")(docFallback.getAs[Long]("n_dropped"))
    val nKept = observedLong(docObs, "n_kept")(docFallback.getAs[Long]("n_kept"))
    // pair-level verdict inputs off the checkpoint-job observation, with
    // the recompute-over-the-checkpoint fallback (same contract as the
    // doc stats above — truePairs is materialized either way)
    val pairMetrics = org.apache.spark.sql.GraftBridge.observedMap(pairObs)
    lazy val pairFallback = truePairs.agg(
      count(lit(1)).as("n_probe_pairs"),
      coalesce(sum(when(col("same_cell"), 1L).otherwise(0L)), lit(0L))
        .as("n_coclustered"),
      coalesce(sum(when(col("same_cell") &&
          (col("a_dropped") || col("b_dropped")), 1L).otherwise(0L)),
        lit(0L)).as("n_resolved"),
      collect_set(when(col("same_cell") && col("a_dropped"), col("a")))
        .as("nb_a"),
      collect_set(when(col("same_cell") && col("b_dropped") &&
        col("b") < SemdedupProbes, col("b"))).as("nb_b"))
      .collect()(0)
    def pairLong(k: String): Long =
      pairMetrics.get(k).map(_.asInstanceOf[Long])
        .getOrElse(pairFallback.getAs[Long](k))
    def pairIds(k: String): Seq[Long] =
      pairMetrics.get(k).map(_.asInstanceOf[Seq[Long]])
        .getOrElse(pairFallback.getAs[Seq[Long]](k))
    val nPairs = pairLong("n_probe_pairs")
    val nCoclustered = pairLong("n_coclustered")
    val nResolved = pairLong("n_resolved")
    val neighboredIds = (pairIds("nb_a") ++ pairIds("nb_b")).toSet
    // every DROPPED PROBE must have a same-cell neighbor at >= threshold
    // (drops only arise from such pairs — provable). The dropped-probe
    // side stays INDEPENDENT of the pair pass (the production FLAG path,
    // observed on the flags scan above — ≤ [[SemdedupProbes]] ids), so
    // the check still cross-examines the prune against the truth pairs
    // rather than the pairs against themselves; the collect fallback
    // keeps it correct if the async metric never lands.
    val droppedProbeIds =
      org.apache.spark.sql.GraftBridge.observedMap(docObs)
        .get("dropped_probes")
        .map(_.asInstanceOf[Seq[Long]].toSet)
        .getOrElse(flags.filter(col("dropped"))
          .filter(col("vec_id") < SemdedupProbes)
          .select("vec_id").collect().map(_.getLong(0)).toSet)
    val nOrphans = (droppedProbeIds -- neighboredIds).size.toLong
    flags.sparkSession.range(1).select(
      lit(nDocs).as("n_docs"),
      lit(nPairs).as("n_probe_pairs"),
      lit(nKept + nDropped == nDocs).as("conservation_ok"),
      lit(nResolved == nCoclustered).as("resolved_ok"),
      lit(nOrphans == 0L).as("dropped_have_neighbor_ok"),
      lit(nCoclustered * 100 >= nPairs * SemdedupCoclusterFloorPct)
        .as("coclustered_floor_ok"))
  }

  /** Fixed truth-probe panel size for [[semdedupPrune]]'s bookkeeping:
    * the first ids, NOT a modulo slice — a modulo keeps probe count ∝ n
    * and the truth pass quadratic again at scale. */
  private val SemdedupProbes = 200

  /** Calibrated co-cluster floor (percent) for [[semdedupPrune]]'s
    * in-bound verdict. */
  private val SemdedupCoclusterFloorPct = 25L

  val semdedupPruneSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |v AS (SELECT * FROM e WHERE nrm > 0),
      |pairs AS (
      |  SELECT p.vec_id AS a, q.vec_id AS b,
      |    round(
      |      list_sum(list_transform(range(1, len(p.embedding) + 1),
      |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      |      / (p.nrm * q.nrm), 4) AS cosine
      |  FROM v p JOIN v q ON p.vec_id < $SemdedupProbes AND p.vec_id < q.vec_id)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_probe_pairs,
      |  TRUE AS conservation_ok,
      |  TRUE AS resolved_ok,
      |  TRUE AS dropped_have_neighbor_ok,
      |  TRUE AS coclustered_floor_ok
      |FROM pairs WHERE cosine >= $SemdedupThreshold""".stripMargin

  // --------------------------------------------- semdedup screen serving
  /** Persist the semantic-dedup screen artifacts — the semdedup family's
    * train-offline/serve-online split (the `writeAnnIndex` pattern):
    * the trained codebook (k×64 floats) plus the KEPT members only,
    * cell-partitioned. An ingest pipeline screens arriving embeddings
    * against the kept set — "does this duplicate content we already
    * decided to train on" — without re-running k-means or the
    * within-cell prune. By the keep rule no two kept members of a cell
    * are within the threshold of each other, so the index is itself
    * duplicate-free.
    */
  def writeSemdedupIndex(s: SparkSession, d: String, dir: String): Unit = {
    graft.models.ModelManifest.invalidate(s, dir)
    val (codebook, flags) = semdedupBase(s, d)
    import s.implicits._
    codebook.map { case (cid, emb) => (cid, emb.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1) // k×64 floats: one tiny file, read whole at serve time
      .write.mode("overwrite").parquet(s"$dir/codebook")
    flags.filter(!col("dropped"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/kept")
    // the writes are done and nothing lazy escapes: release the dropped-id
    // checkpoint backing the flag frame
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(flags)
    graft.models.ModelManifest.write(s, dir, "semdedup_index", d,
      Seq("embeddings"),
      Seq("threshold" -> SemdedupThreshold.toString))
  }

  /** Screen a probe batch `(vec_id, embedding)` against a FROZEN semdedup
    * index: assign each probe to its cell (literal-centroid argmax — the
    * [[assignCells]] projection) and count kept members of THAT CELL
    * within the threshold (self-matches by vec_id excluded, so
    * re-screening the index against itself reports clean). Only the
    * probed cells' partitions are read. Total: zero-norm probes (no
    * cosine defined — the NaN guard class) report 0 matches, not NULL.
    * Output UNORDERED (the serving-path contract).
    */
  def semdedupScreenBatch(probes: DataFrame,
      codebook: Seq[(Int, Array[Float])], kept: DataFrame): DataFrame = {
    val p = probes
      .select(col("vec_id"), col("embedding"), expr("vec_norm(embedding)").as("nrm"))
    val q = assignCells(p.filter(col("nrm") > 0), codebook)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    val matches = q.join(kept, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .filter(round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4)
        >= SemdedupThreshold)
      .groupBy(col("qid").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_kept"))
    probes.select(col("vec_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_dup_kept"), lit(0L)).as("n_dup_kept"))
      .withColumn("is_dup", col("n_dup_kept") > 0)
  }

  /** Convenience serving entry: read the persisted index and screen. */
  def semdedupScreenFromModel(s: SparkSession, indexDir: String,
      probes: DataFrame): DataFrame = {
    graft.models.ModelManifest.validate(s, indexDir, "semdedup_index")
    graft.functions.VecFunctions.register(s)
    semdedupScreenBatch(probes,
      codebookFromDir(s, indexDir), s.read.parquet(s"$indexDir/kept"))
  }

  /** Screen-and-ADMIT verdicts for one ingest micro-batch
    * (`Streams.streamSemdedupIngest`): each arriving vector is judged
    * against the kept set PLUS every prior batch's admitted vectors
    * (`admitted/batch_id=*`, minus `excludeBatch` — the redelivery
    * discipline) PLUS its own batch's LOWER-vec_id rows, so a batch
    * admits exactly one of a within-batch near-dup pair and a near-dup
    * of a vector admitted three batches ago is rejected without any
    * index rebuild. The within-batch rule is match-any-lower-id —
    * deterministic and one join, pessimistic on transitive chains (a
    * chain admits only its lowest id even where intermediate drops break
    * the links); the offline `semdedup_prune` keep rule is the
    * refinement a compaction-time re-prune would apply. Emits
    * `(vec_id, n_dup_kept, is_dup, embedding, nrm, cell)` — total over
    * the batch; zero-norm rows report 0 matches (no cosine exists) and
    * carry a NULL cell so the sink can exclude them from the append. */
  private[graft] def semdedupIngestVerdicts(batch: DataFrame,
      codebook: Seq[(Int, Array[Float])], indexDir: String,
      excludeBatch: Long): DataFrame = {
    val s = batch.sparkSession
    graft.functions.VecFunctions.register(s)
    val kept = s.read.parquet(s"$indexDir/kept")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell").cast("int").as("cell"))
    val prior =
      try {
        val a = s.read.parquet(s"$indexDir/admitted")
        (if (excludeBatch >= 0) a.filter(col("batch_id") =!= excludeBatch)
         else a)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cell").cast("int").as("cell"))
      } catch { case _: org.apache.spark.sql.AnalysisException =>
        kept.limit(0)
      }
    val p = batch.select(col("vec_id"), col("embedding"),
      expr("vec_norm(embedding)").as("nrm"))
    val q = assignCells(p.filter(col("nrm") > 0), codebook)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"), col("cell"))
    val own = q.select(col("qid").as("vec_id"), col("qemb").as("embedding"),
      col("qnrm").as("nrm"), col("cell")).withColumn("own", lit(true))
    val cand = kept.unionByName(prior).withColumn("own", lit(false))
      .unionByName(own)
    val matches = q.join(cand, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .filter(!col("own") || col("vec_id") < col("qid"))
      .filter(round(expr("vec_dot(qemb, embedding)") / (col("qnrm") * col("nrm")), 4)
        >= SemdedupThreshold)
      .groupBy(col("qid").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_kept"))
    p.join(q.select(col("qid").as("vec_id"), col("cell")), Seq("vec_id"), "left")
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        coalesce(col("n_dup_kept"), lit(0L)).as("n_dup_kept"))
      .withColumn("is_dup", col("n_dup_kept") > 0)
  }

  /** Offline compaction for a semdedup index grown by
    * `Streams.streamSemdedupIngest`: folds `admitted/` into the kept
    * relation (cell partitioning preserved) under the shared
    * invalidate-first / rewrite-last manifest bracket and staged-rename
    * swap. Admitted rows were screened against kept ∪ prior admits at
    * ingest time, so the fold cannot introduce a near-dup pair the
    * ingest rule would have rejected; no-op when nothing was admitted. */
  def compactSemdedupIndex(s: SparkSession, dir: String): Unit = {
    val m = graft.models.ModelManifest.validate(s, dir, "semdedup_index")
    if (!graft.models.IndexMaintenance.exists(s, s"$dir/admitted")) return
    val merged = s.read.parquet(s"$dir/kept")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell").cast("int").as("cell"))
      .unionByName(s.read.parquet(s"$dir/admitted")
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("cell").cast("int").as("cell")))
      .distinct()
    graft.models.ModelManifest.invalidate(s, dir)
    graft.models.IndexMaintenance.stagedSwap(s, dir, "kept",
      Seq("admitted")) { staged =>
      merged.write.mode("overwrite").partitionBy("cell").parquet(staged)
    }
    graft.models.ModelManifest.write(s, dir, "semdedup_index", m.sourceDir,
      m.tables, graft.models.IndexMaintenance.bumpCompactions(m))
  }

  // ------------------------------------------------------- outlier audit
  /** Embedding-quality outlier audit: per label, the cosine of every
    * vector against its label centroid, reduced to (count, mean, stddev,
    * outliers below mean − 2σ) — the drift/mislabel check an embedding
    * pipeline runs after every (re)encode. Determinism for the oracle:
    * centroid components, cosines, and the mean/σ are each rounded to
    * 6 dp BEFORE any comparison, so the outlier threshold is computed
    * from identical doubles in both engines and no boundary can flip.
    *
    * Scale shape: centroid = one map-side-combinable per-(label, dim)
    * average (the `CentroidAggregator` family's cost); the 5-row centroid
    * frame broadcasts; the cosine pass is narrow; the stats and the
    * outlier count are two more map-side-combinable aggregates over
    * (label, cos) rows. No window over a label's full population — a hot
    * label never serializes through one reducer.
    */
  def embeddingOutliers(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("label"),
        expr("transform(dc, x -> x.c)").as("centroid"))
      .withColumn("cnorm",
        sqrt(expr("aggregate(centroid, 0d, (acc, x) -> acc + x * x)")))
    // localCheckpoint: `scored` feeds BOTH the stats aggregate and the
    // outlier count — without materializing it once, the whole
    // posexplode→centroid→cosine subtree executes twice per action
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("label"),
        round(expr("vec_dotd(embedding, centroid)") /
          (expr("vec_norm(embedding)") * col("cnorm")), 6).as("cos"))
      .localCheckpoint()
    val stats = scored.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("cos"), 6).as("avg_cos"),
        round(stddev_samp(col("cos")), 6).as("std_cos"))
    scored.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"), col("n_vecs"), col("avg_cos"), col("std_cos"))
      .agg(sum(when(col("cos") < col("avg_cos") - lit(2.0) * col("std_cos"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select("label", "n_vecs", "avg_cos", "std_cos", "n_outliers")
      .orderBy("label")
  }

  val embeddingOutliersSql: String =
    """WITH dims AS (
      |  SELECT label, dim, round(avg(v), 6) AS c FROM (
      |    SELECT label, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) - 1 AS dim
      |    FROM embeddings)
      |  GROUP BY label, dim),
      |cent AS (
      |  SELECT label, list(c ORDER BY dim) AS centroid,
      |    sqrt(list_sum(list_transform(list(c ORDER BY dim), x -> x * x))) AS cnorm
      |  FROM dims GROUP BY label),
      |scored AS (
      |  SELECT e.label,
      |    round(
      |      list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
      |      / (sqrt(list_sum(list_transform(e.embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * c.cnorm),
      |      6) AS cos
      |  FROM embeddings e JOIN cent c ON e.label = c.label),
      |stats AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |    round(avg(cos), 6) AS avg_cos,
      |    round(stddev_samp(cos), 6) AS std_cos
      |  FROM scored GROUP BY label)
      |SELECT s.label, t.n_vecs, t.avg_cos, t.std_cos,
      |  CAST(sum(CASE WHEN s.cos < t.avg_cos - 2.0 * t.std_cos
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM scored s JOIN stats t ON s.label = t.label
      |GROUP BY s.label, t.n_vecs, t.avg_cos, t.std_cos
      |ORDER BY s.label""".stripMargin

  // ------------------------------------------------------- centroid UDAF
  /** Per-label centroid via the custom `CentroidAggregator` (typed UDAF with
    * map-side partial aggregation), exploded to (label, dim, value) rows so
    * the oracle can recompute it as a per-dimension average.
    */
  def centroidByLabel(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val centroid = udaf(new CentroidAggregator(dim))
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(centroid(col("embedding")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"), round(col("v"), 6).as("centroid_val"))
      .orderBy("label", "dim")
  }

  val centroidByLabelSql: String =
    """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
      |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val
      |FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix
      |GROUP BY label, i
      |ORDER BY label, dim""".stripMargin

  // ------------------------------------------------------- silhouette
  /** Centroid-based silhouette score per label cluster — the cluster-quality
    * audit a semantic-dedup / SemDeDup pass runs over its k-means
    * partitioning (how separable are the clusters the pruning trusts?).
    * Classical silhouette is O(n²) pairwise; the centroid form
    * (a = distance to own centroid, b = nearest other centroid) is the
    * standard O(n·k) scale substitute and is what this computes.
    *
    * Shape: one scan exploded to (vec_id, dim, x) → per-(label, dim)
    * centroid averages (k×64 rows, partial aggregation) → dim-keyed join
    * back (map-side combine collapses the k-fan-out to n·k before the
    * (vec_id, clabel) shuffle) → per-vector a/b → per-label aggregate.
    * Every arithmetic step is double precision mirrored verbatim in the
    * oracle — squared terms use explicit multiplication, not pow(), so
    * neither engine's libm enters the contract.
    */
  def clusterSilhouette(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("xf").cast("double").as("x"))
    val cent = dims.groupBy(col("label").as("clabel"), col("dim"))
      .agg(avg("x").as("c"))
    val dist = dims.join(broadcast(cent), "dim")
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("ss"))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(col("ss")).as("dist"))
    val sil = dist.groupBy("vec_id", "label")
      .agg(
        min(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .select(col("label"),
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)).as("sil"))
    sil.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg("sil"), 4).as("avg_sil"),
        sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_misplaced"))
      .orderBy("label")
  }

  val clusterSilhouetteSql: String =
    """WITH dims AS (
      |  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
      |cent AS (
      |  SELECT label AS clabel, dim, avg(x) AS c FROM dims GROUP BY 1, 2),
      |dist AS (
      |  SELECT d.vec_id, d.label, c.clabel,
      |    sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dist
      |  FROM dims d JOIN cent c ON d.dim = c.dim
      |  GROUP BY 1, 2, 3),
      |per AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN clabel = label THEN dist END) AS a,
      |    min(CASE WHEN clabel <> label THEN dist END) AS b
      |  FROM dist GROUP BY 1, 2),
      |sil AS (
      |  SELECT label,
      |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
      |         ELSE 0.0 END AS sil
      |  FROM per)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(avg(sil), 4) AS avg_sil,
      |  CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
      |FROM sil GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------- MMR top-k
  /** Maximal-marginal-relevance diversified retrieval: per probe, pick 3
    * results from the brute-force top-8 candidates by the MMR rule
    * (λ·relevance − (1−λ)·max similarity to already-picked, λ = 0.7) —
    * the standard redundancy-free retrieval head over an ANN candidate
    * set (a near-dup-heavy corpus makes plain top-k return one cluster).
    *
    * The selection loop is bounded (k = 3) so it unrolls into three
    * declarative steps — no driver iteration, no UDF. All scores are
    * arithmetic over 4-dp-rounded cosines, so the oracle's identical
    * unrolling cannot diverge at a tie; remaining ties break to the
    * lower vec_id. Candidate and pair frames are per-probe bounded
    * (≤ 8 and ≤ 64 rows), so at scale the whole tail after the ANN
    * candidate generation is a narrow per-probe computation.
    *
    * r17: the tail IS that per-probe computation now — candidates and
    * pair cosines fold into one row per probe (two bounded collect_list
    * aggregates) and the three unrolled steps run as array expressions in
    * a single projection, replacing the former 10-join/2-window chain
    * (each step's argmax = array_max over (score, −vec_id) structs,
    * which compares doubles exactly as SortOrder does, −0.0 < 0.0
    * included, so the tie-break is bit-identical to the old
    * row_number(score desc, vec_id asc); each step's coefficients are
    * the same 0.7/0.3 literals multiplied in the same order, so every
    * score is the same double). `MmrProps` drives this frame against a
    * plain-Scala MMR on random tie-heavy corpora.
    */
  def annMmrTopk(s: SparkSession, d: String): DataFrame =
    annMmrTopkFrame(
      Tables.parallelize(s, Tables.embeddings(s, d))
        .select("vec_id", "embedding"))

  /** The df-level MMR pipeline over any `(vec_id, embedding)` frame — the
    * seam `MmrProps` drives with random tie-heavy vectors. */
  private[graft] def annMmrTopkFrame(e: DataFrame): DataFrame = {
    // BOTH coefficients are independent literals: computing the penalty
    // as 1 − 0.7 yields 0.30000000000000004, a different double than the
    // oracle's literal 0.3 — enough to flip an exact-tie argmax between
    // engines (review finding; the spec's brute force uses 0.3 too)
    // candidates read twice (the per-probe fold and the pair stage) —
    // checkpoint the ARRAY-FREE frame once (the semdedup rule: long/double
    // columns only), so the brute-force stage runs once and the pair
    // cosines read scan-backed float arrays (the vec_dot unsafe fast
    // path), not deserialized checkpoint rows
    val cands = bruteTopk(e, 8).localCheckpoint()
    val cf = cands.join(e, "vec_id")
    val pairs = cf.as("a").join(cf.as("b"),
        col("a.qid") === col("b.qid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.qid").as("qid"), col("a.vec_id").as("av"),
        col("b.vec_id").as("bv"),
        round(cosine(col("a.embedding"), col("b.embedding")), 4).as("sim"))
    // one row per probe: candidates sorted by rank (≤ 8 structs) + the
    // pair-cosine table (≤ 56 structs); left join — a 1-candidate probe
    // has no pairs, and its null ps nulls s2/s3 exactly as the old inner
    // joins emitted nothing for it
    val cArr = cands.groupBy("qid")
      .agg(sort_array(collect_list(struct(col("rank"), col("vec_id"),
        col("cosine")))).as("cs"))
    val pArr = pairs.groupBy("qid")
      .agg(collect_list(struct(col("av"), col("bv"), col("sim"))).as("ps"))
    // the three unrolled MMR steps as array expressions; `sim(x, y)` is a
    // lookup in ps, argmax is array_max over (score, −vec_id, …) structs
    def simTo(cv: String, pv: String): String =
      s"element_at(filter(ps, p -> p.av = $cv AND p.bv = $pv), 1).sim"
    val sel = cArr.join(pArr, Seq("qid"), "left")
      .withColumn("p1", expr("element_at(cs, 1)"))
      .withColumn("s2", expr(
        s"""array_max(transform(
           |  filter(cs, c -> c.vec_id != p1.vec_id),
           |  c -> named_struct(
           |    'score', 0.7D * c.cosine - 0.3D * ${simTo("c.vec_id", "p1.vec_id")},
           |    'nid', -c.vec_id, 'vec_id', c.vec_id, 'rel', c.cosine)))""".stripMargin))
      .withColumn("s3", expr(
        s"""array_max(transform(
           |  filter(cs, c -> c.vec_id != p1.vec_id AND c.vec_id != s2.vec_id),
           |  c -> named_struct(
           |    'score', 0.7D * c.cosine - 0.3D * greatest(
           |      ${simTo("c.vec_id", "p1.vec_id")}, ${simTo("c.vec_id", "s2.vec_id")}),
           |    'nid', -c.vec_id, 'vec_id', c.vec_id, 'rel', c.cosine)))""".stripMargin))
    sel.select(col("qid"), explode(expr(
        """filter(array(
          |  named_struct('pick', 1, 'vec_id', p1.vec_id, 'rel', p1.cosine),
          |  named_struct('pick', 2, 'vec_id', s2.vec_id, 'rel', s2.rel),
          |  named_struct('pick', 3, 'vec_id', s3.vec_id, 'rel', s3.rel)),
          |  x -> x.vec_id IS NOT NULL)""".stripMargin)).as("s"))
      .select(col("qid"), col("s.pick").as("pick"),
        col("s.vec_id").as("vec_id"), col("s.rel").as("rel"))
      .orderBy("qid", "pick")
  }

  val annMmrTopkSql: String =
    s"""WITH scored AS (
       |  SELECT p.vec_id AS qid, q.vec_id AS vec_id, $cosineSqlPQ AS cosine
       |  FROM embeddings p JOIN embeddings q ON q.vec_id <> p.vec_id
       |  WHERE p.vec_id % 100 = 0),
       |cf AS (
       |  SELECT qid, vec_id, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
       |      AS rank
       |  FROM scored QUALIFY rank <= 8),
       |ce AS (
       |  SELECT c.qid, c.vec_id, c.cosine, c.rank, e.embedding
       |  FROM cf c JOIN embeddings e ON c.vec_id = e.vec_id),
       |pr AS (
       |  SELECT p.qid AS pqid, p.vec_id AS av, q.vec_id AS bv,
       |    $cosineSqlPQ AS sim
       |  FROM ce p JOIN ce q ON p.qid = q.qid AND p.vec_id <> q.vec_id),
       |s1 AS (SELECT qid, vec_id AS p1, cosine AS rel1 FROM cf WHERE rank = 1),
       |c2 AS (
       |  SELECT c.qid, c.vec_id, c.cosine,
       |    0.7 * c.cosine - 0.3 * p.sim AS score
       |  FROM cf c JOIN s1 ON c.qid = s1.qid AND c.vec_id <> s1.p1
       |  JOIN pr p ON p.pqid = c.qid AND p.av = c.vec_id AND p.bv = s1.p1),
       |s2 AS (
       |  SELECT qid, vec_id AS p2, cosine AS rel2 FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM c2) WHERE rn = 1),
       |c3 AS (
       |  SELECT c.qid, c.vec_id, c.cosine,
       |    0.7 * c.cosine - 0.3 * greatest(pa.sim, pb.sim) AS score
       |  FROM cf c
       |  JOIN s1 ON c.qid = s1.qid JOIN s2 ON c.qid = s2.qid
       |  JOIN pr pa ON pa.pqid = c.qid AND pa.av = c.vec_id AND pa.bv = s1.p1
       |  JOIN pr pb ON pb.pqid = c.qid AND pb.av = c.vec_id AND pb.bv = s2.p2
       |  WHERE c.vec_id <> s1.p1 AND c.vec_id <> s2.p2),
       |s3 AS (
       |  SELECT qid, vec_id AS p3, cosine AS rel3 FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM c3) WHERE rn = 1)
       |SELECT qid, CAST(1 AS INTEGER) AS pick, p1 AS vec_id, rel1 AS rel FROM s1
       |UNION ALL
       |SELECT qid, CAST(2 AS INTEGER), p2, rel2 FROM s2
       |UNION ALL
       |SELECT qid, CAST(3 AS INTEGER), p3, rel3 FROM s3
       |ORDER BY qid, pick""".stripMargin

  // ------------------------------------------------- cosine histogram
  /** Pairwise-cosine distribution of the embedding space, 20 equal bins
    * over [−1, 1] — the geometry health check run before trusting any
    * cosine threshold (semdedup's 0.4, decontamination's 0.25): a
    * healthy space shows a near-Gaussian bulk with a thin high-cosine
    * tail; an anisotropic or collapsed space (all cosines ≈ 0.9) means
    * every threshold needs recalibration. The histogram is a STATISTIC,
    * so its pair family is the same fixed probe panel as
    * [[semdedupPrune]]'s bookkeeping — ordered pairs whose lower id lies
    * in the first [[SemdedupProbes]] ids, O(probes · n) at any corpus
    * size (a `vec_id % s` modulo slice was the previously-documented
    * production shape, but a modulo keeps probe count ∝ n and the pass
    * quadratic — the same lesson the slope gate taught the semdedup
    * verdict). Each probe contributes its full cosine profile against
    * the corpus, so the binned shape estimates the pairwise distribution
    * with thousands of samples per fixture and millions at scale.
    *
    * Bin = floor((cos₄ₐₚ + 1)·10) clamped to 19, integer counts + share
    * in bp — no float crosses the oracle boundary after the rounded
    * cosine itself.
    */
  def embeddingCosHistogram(s: SparkSession, d: String): DataFrame = {
    graft.functions.VecFunctions.register(s)
    // nrm > 0 guard (the decontaminate_embedding discipline): a zero
    // vector's NaN cosine would land in a NULL bin on one engine and
    // error on the other; excluded identically on both sides
    val e = Tables.parallelize(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
      .filter(expr("vec_norm(embedding)") > 0)
    val pairs = broadcast(e.filter(col("vec_id") < SemdedupProbes).as("p"))
      .join(e.as("q"), col("p.vec_id") < col("q.vec_id"))
      .select(round(cosine(col("p.embedding"), col("q.embedding")), 4).as("cos"))
    val binned = pairs
      .select(least(floor((col("cos") + 1.0) * 10.0).cast("long"), lit(19L))
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val total = binned.agg(sum("n_pairs").as("tot"))
    binned.crossJoin(broadcast(total))
      .select(col("bin"), col("n_pairs"),
        expr("n_pairs * 10000 div tot").as("share_bp"))
      .orderBy("bin")
  }

  val embeddingCosHistogramSql: String =
    s"""WITH nz AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0),
       |pairs AS (
       |  SELECT $cosineSqlPQ AS cos
       |  FROM nz p JOIN nz q ON p.vec_id < $SemdedupProbes AND p.vec_id < q.vec_id),
       |binned AS (
       |  SELECT least(CAST(floor((cos + 1.0) * 10.0) AS BIGINT), 19) AS bin,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pairs GROUP BY 1),
       |tot AS (SELECT sum(n_pairs) AS tot FROM binned)
       |SELECT bin, n_pairs,
       |  CAST(n_pairs * 10000 // (SELECT tot FROM tot) AS BIGINT) AS share_bp
       |FROM binned ORDER BY bin""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embedding_cos_histogram" -> (embeddingCosHistogram _),
    "cluster_silhouette" -> (clusterSilhouette _),
    "ann_mmr_topk" -> (annMmrTopk _),
    "ann_bruteforce_topk" -> (annBruteforceTopk _),
    "ann_lsh_topk" -> ((s: SparkSession, d: String) => annLshTopk(s, d)),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_nprobe_topk" -> (annIvfNprobeTopk _),
    "embedding_outliers" -> (embeddingOutliers _),
    "ann_ivf_trained_topk" -> (annIvfTrainedRecall _),
    "ann_doc_join" -> (annDocJoin _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "embedding_quantize" -> (embeddingQuantize _),
    "pq_encode" -> (pqEncode _),
    "pq_adc_topk" -> (pqAdcTopk _),
    "pq_adc_rerank_topk" -> (pqAdcRerankTopk _),
    "ann_ivfpq_topk" -> (annIvfPqTopk _),
    "semdedup_prune" -> (semdedupPrune _),
    "hard_negatives" -> (hardNegatives _),
    "centroid_by_label" -> (centroidByLabel _),
    "ann_grow_serve" -> (annGrowServe _),
    "ann_index_drift" -> (annIndexDrift _),
    "ann_retrain_report" -> (annRetrainReport _))

  def oracles: Map[String, String] = Map(
    "embedding_cos_histogram" -> embeddingCosHistogramSql,
    "cluster_silhouette" -> clusterSilhouetteSql,
    "ann_mmr_topk" -> annMmrTopkSql,
    "ann_bruteforce_topk" -> annBruteforceTopkSql,
    "ann_lsh_topk" -> annLshTopkSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_ivf_nprobe_topk" -> annIvfNprobeTopkSql,
    "ann_ivf_trained_topk" -> annIvfTrainedRecallSql,
    "ann_doc_join" -> annDocJoinSql,
    "embedding_outliers" -> embeddingOutliersSql,
    "dedup_embedding_lsh" -> dedupEmbeddingLshSql,
    "embedding_quantize" -> embeddingQuantizeSql,
    "pq_encode" -> pqEncodeSql,
    "pq_adc_topk" -> pqAdcTopkSql,
    "pq_adc_rerank_topk" -> pqAdcRerankTopkSql,
    "ann_ivfpq_topk" -> annIvfPqTopkSql,
    "semdedup_prune" -> semdedupPruneSql,
    "hard_negatives" -> hardNegativesSql,
    "centroid_by_label" -> centroidByLabelSql,
    "ann_grow_serve" -> annGrowServeSql,
    "ann_index_drift" -> annIndexDriftSql,
    "ann_retrain_report" -> annRetrainReportSql)
}
