package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}
import graft.expr.NearestF64

/** Similarity-search operators over the `embeddings` table
  * (`embedding: array<float>[64]`).
  *
  * Scale design (100 TB):
  *  - brute-force top-k broadcasts the (small) query set and streams the
  *    corpus once — no shuffle of the big side, O(corpus × queries) flops in
  *    one codegen stage;
  *  - IVF: k centroids broadcast to executors; assignment is a narrow map.
  *    At scale the same assignment feeds partition pruning (search only the
  *    probed cluster's partitions);
  *  - LSH: 16 sign-random-projection bits → bucket equi-join, the shuffle is
  *    O(n) on bucket keys instead of O(n²) pairs.
  *
  * Cross-engine determinism: all dot products / distances are
  * left-associative double sums — unrolled text in the DuckDB oracles,
  * native graft.expr kernels that run the same IEEE operation sequence on
  * the Spark side — so results match bitwise with no rounding fudge. The
  * LSH/JL hyperplanes are ±1 constants derived from md5 at plan time, baked
  * into the oracle SQL as literals and handed to the kernels as values.
  */
object VectorOpsImpl {

  val Dims = 64

  /** Unrolled Σ f(i) over dims, identical text modulo element accessor. */
  private def unroll(f: Int => String): String = (1 to Dims).map(f).mkString(" + ")

  /** Native codegen'd dot (graft.expr.DotF64Expr) — one static call in
    * generated code instead of 64 inlined statements, so join stages that
    * fuse several dots stay inside WholeStageCodegen (the unrolled text
    * overflowed Janino's method limit there; see DotF64's scaladoc for
    * the bitwise-parity argument vs the unrolled DuckDB oracles). */
  def sparkDot(a: String, b: String): String = s"dotf64($a, $b)"
  def duckDot(a: String, b: String): String =
    unroll(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")

  def norms(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(
      col("vec_id"),
      col("label").cast(LongType).as("label"),
      expr(s"sqrt(${sparkDot("embedding", "embedding")})").as("norm"),
      expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("c0"))
      .orderBy(col("vec_id"))

  /** Brute-force cosine top-5 per query vector (query set = vec_id < 8). */
  def cosineTopK(s: SparkSession, dir: String): DataFrame =
    // memoized checkpointed view: the exact top-5 is the ground truth for
    // q51 plus three measurement panels (q77/q113/q90-family) — one brute
    // pass serves all, and the 8×5-row result carries no lineage
    graft.ops.Memo.getOrCache(exactTopKCache, s, dir, _ =>
      cosineTopKPlan(s, dir).localCheckpoint())

  private val exactTopKCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Generic (session, dir, path-name)-keyed memo for the per-path ANN
    * top-3 results: each is queries×3 rows behind an expensive probe plan,
    * and each is consumed TWICE per Verify/Bench session (its own gate +
    * the q77/q113 panel). `localCheckpoint` so consumers carry no probe
    * lineage. Plan locks target the `*Plan` builders, which stay the
    * single source of the probe shape. */
  private val pathResultCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def memoPath(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    graft.ops.Memo.getOrCache(pathResultCache, s, s"$dir#$name",
      _ => build.localCheckpoint())

  private[graft] def cosineTopKPlan(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val joined = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Order-independent centroid accumulation that is BITWISE portable:
    * each component is floor-quantized to 1e-12 (FLOOR of a double is
    * rounding-mode-free, unlike double→DECIMAL casts — Spark rounds a
    * half-way decimal tie HALF_UP where DuckDB rounds it down; label 1 /
    * dim 38 of sf0.01 is a real such tie, a float equal to odd/2^13),
    * summed EXACTLY as DECIMAL(38,0) — a BIGINT sum of 1e12-scaled
    * components would wrap silently past ~9.2M rows per group in
    * non-ANSI Spark while DuckDB promotes to HUGEINT, silently breaking
    * cross-engine parity at larger scale factors; a 38-digit decimal keeps
    * both engines exact to ~1e26 rows — then divided back in double.
    * Decimal→double is correctly rounded in both engines, so any engine
    * computes the same bits. */
  def sparkCentComp(i: Int): String =
    s"CAST(SUM(CAST(FLOOR(CAST(element_at(embedding, $i) AS DOUBLE) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12"
  def duckCentComp(i: Int): String =
    s"CAST(SUM(CAST(FLOOR(CAST(embedding[$i] AS DOUBLE) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12"

  /** Exact per-label centroids (order-independent quantized accumulation),
    * first four components exposed. */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val dims = (1 to 4).map(i =>
      (expr(sparkCentComp(i)) / count(lit(1))).as(s"c$i"))
    e.groupBy(col("label").cast(LongType).as("label"))
      .agg(count(lit(1)).as("n"), dims: _*)
      .orderBy(col("label"))
  }

  /** Exact per-label centroid vectors, collected to the driver — k ≈ 10
    * labels × 64 doubles, i.e. metadata-sized, the legitimate use of a
    * driver-side action. The floor-quantized integer accumulation
    * ([[sparkCentComp]]) makes each centroid component bit-identical to
    * what the DuckDB oracle computes, so baking them into the plan as
    * literals preserves cross-engine hash equality. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Array[Double])]]()

  /** Memoized CACHED assignment view per (session, dir) — one cached copy
    * ever exists, so repeated ivfTopK calls neither re-cache (the r2 bench's
    * "already cached" warnings) nor leak a new cached plan per call.
    * Both memos assume corpus dirs are immutable within a JVM (true for the
    * driver's testdata); [[clearCaches]] is the explicit invalidation hook
    * for anything that regenerates data under a reused path. */
  private val assignCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Memoized CACHED PQ index — the bare (vec_id, code0…code7) view — per
    * (session, dir): the ADC searches (q63/q66) share one materialization
    * and their search stages read plain cached code columns instead of
    * fusing the 8-subspace argmin encode into the sort pipeline (fused,
    * the generated sort method exceeded Janino's 64 KB limit and the stage
    * fell back to interpreted eval). Materializing the index once IS the
    * deployment shape: encode writes the codes file, searches scan it. */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Drop all memoized centroid/assignment state and unpersist the cached
    * assignment views. */
  def clearCaches(): Unit = {
    graft.ops.Memo.clear(assignCache)
    graft.ops.Memo.clear(pqIndexCache)
    graft.ops.Memo.clear(kmeansAssignCache)
    graft.ops.Memo.clear(pqKmeansIndexCache)
    graft.ops.Memo.clear(embedComponentsCache)
    graft.ops.Memo.clear(knnGraphCache)
    graft.ops.Memo.clear(annPanelCache)
    graft.ops.Memo.clear(lexShortlistCache)
    graft.ops.Memo.clear(exactTopKCache)
    graft.ops.Memo.clear(pathResultCache)
    graft.ops.Memo.clear(pagerankCache)
    graft.ops.Memo.clear(knnClustersCache)
    graft.ops.Memo.clear(residualCache)
    graft.ops.Memo.clear(residualPqIndexCache)
    centroidCache.clear()
    kmeansCache.clear()
    pqKmeansCache.clear()
    residualPqCache.clear()
  }

  private def centroidVectors(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    // deterministic per corpus dir — memoized so q53 and q55 share one
    // aggregation job per session instead of re-running the 64-dim sum
    centroidCache.computeIfAbsent(dir, { d =>
      val e = Tables(s, d, "embeddings")
      val sums = count(lit(1)).as("n") +: (1 to Dims).map(i =>
        expr(sparkCentComp(i)).as(s"s$i"))
      e.groupBy(col("label").cast(LongType).as("clabel"))
        .agg(sums.head, sums.tail: _*)
        .select(col("clabel") +: (1 to Dims).map(i => (col(s"s$i") / col("n")).as(s"c$i")): _*)
        .collect()
        .map(r => (r.getLong(0), (1 to Dims).map(i => r.getDouble(i)).toArray))
        .sortBy(_._1).toSeq
    })

  /** Per-label embedding drift between two corpus snapshots — the
    * embedding-space sibling of q96's vocabulary drift: per label, how far
    * did the class centroid move between the old and new snapshot (halves
    * by vec_id parity stand in for the two snapshot scans; in production
    * each side is its own corpus path). Catches encoder swaps, upstream
    * content shifts, or pipeline regressions that per-vector checks miss.
    *
    * Scale shape: two partial-aggregated centroid passes (one per
    * snapshot), then a label-count-sized join — never touches vectors
    * pairwise. Determinism: per-dimension means use the floor-quantized
    * DECIMAL(38,0) sum discipline; drift² is the same left-associative
    * 64-term IEEE chain both engines evaluate. */
  def embedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .withColumn("half", pmod(col("vec_id"), lit(2L)))
    def cent(half: Int, tag: String) = {
      val aggs = count(lit(1)).as(s"n_$tag") +: (1 to Dims).map(i =>
        (expr(sparkCentComp(i)) / count(lit(1))).as(s"${tag}_c$i"))
      e.filter(col("half") === half)
        .groupBy(col("label").cast(LongType).as("label"))
        .agg(aggs.head, aggs.tail: _*)
    }
    val drift2 = (1 to Dims).map { i =>
      val d = col(s"old_c$i") - col(s"new_c$i")
      d * d
    }.reduce(_ + _)
    cent(0, "old").join(broadcast(cent(1, "new")), "label")
      .select(col("label"), col("n_old"), col("n_new"),
        drift2.as("drift2"), sqrt(drift2).as("drift"))
      .orderBy(col("label"))
  }

  /** Per-DIMENSION encoder health panel: mean, population variance, min,
    * max and near-zero fraction for each of the 64 embedding components —
    * the diagnostic that catches dead dimensions (a dim whose variance
    * collapsed after an encoder swap carries no information but still costs
    * index space) and scale drift (a dim whose range exploded dominates
    * every L2/cosine). Per-vector checks (q50 norms) can't see either:
    * both are properties of a dimension across the corpus.
    *
    * Scale shape: ONE global partial aggregation computing 4 accumulators
    * per dimension (floor-quantized DECIMAL(38,0) sums for mean/variance —
    * order-independent and overflow-safe to ~1e26 rows — plus double
    * min/max), i.e. a 257-column single-row reduce with map-side combine;
    * the corpus is never exploded into n×64 rows and never shuffled. The
    * 64-row output frame then unfolds from that single row with a trivial
    * generator. This is the panel you run after every encoder change; at
    * 100 TB it is one narrow scan. */
  def dimStats(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    def d(i: Int) = s"CAST(element_at(embedding, $i) AS DOUBLE)"
    val aggs = (1 to Dims).flatMap { i =>
      Seq(
        expr(s"CAST(SUM(CAST(FLOOR(${d(i)} * 1e12) AS DECIMAL(38,0))) AS DOUBLE)").as(s"s$i"),
        expr(s"CAST(SUM(CAST(FLOOR(${d(i)} * ${d(i)} * 1e12) AS DECIMAL(38,0))) AS DOUBLE)").as(s"q$i"),
        expr(s"MIN(${d(i)})").as(s"mn$i"),
        expr(s"MAX(${d(i)})").as(s"mx$i"),
        expr(s"SUM(CASE WHEN ABS(${d(i)}) < 0.01 THEN 1 ELSE 0 END)").as(s"z$i"))
    } :+ count(lit(1)).as("n")
    val one = e.agg(aggs.head, aggs.tail: _*)
    val rows = one.select(col("n"), explode(array((1 to Dims).map(i =>
      struct(lit(i).cast(LongType).as("dim"), col(s"s$i").as("s"),
        col(s"q$i").as("q"), col(s"mn$i").as("mn"), col(s"mx$i").as("mx"),
        col(s"z$i").as("z"))): _*)).as("d"))
    rows.select(col("d.dim").as("dim"), col("n").as("n_vecs"),
        expr("d.s / 1e12 / n").as("mean"),
        expr("d.q / 1e12 / n - (d.s / 1e12 / n) * (d.s / 1e12 / n)").as("variance"),
        col("d.mn").as("min_v"), col("d.mx").as("max_v"),
        expr("CAST(d.z AS DOUBLE) / n").as("near_zero_frac"))
      .orderBy(col("dim"))
  }

  /** Nearest-exact-centroid assignment for every vector (L2, tie → smaller
    * centroid label): vec_id, label, embedding, assigned.
    *
    * This is a genuinely NARROW per-row argmin: the k centroids are baked
    * into one projection as literals and `array_min` over (dist², clabel)
    * structs picks the winner — struct ordering = smallest distance, ties →
    * smaller label — in a single codegen'd pass over the scan. No crossJoin,
    * no Window, no shuffle of the corpus at all (the round-1 shape shuffled
    * AND sorted n×k rows to compute the same per-row fold). Each dist² is
    * the same left-associative IEEE sum the oracle runs, so results still
    * hash-match bitwise. */
  private def assignAll(s: SparkSession, dir: String): DataFrame =
    assignCenters(
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("label"), col("embedding")),
      centroidVectors(s, dir))

  /** The generic nearest-center argmin over an arbitrary baked codebook —
    * shared by the per-label index builds, the unsupervised k-means
    * iterations, and the streaming incremental index build
    * (graft.streaming.StreamIndex). Appends `assigned` to whatever columns
    * `e` carries. Stateless and narrow, so it applies to batch and
    * streaming frames alike. */
  private[graft] def assignCenters(e: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    // native argmin (graft.expr.NearestF64Expr): ONE static call in
    // generated code instead of k×Dims inlined literal statements — the
    // round-16 replacement for the unrolled array_min(array(struct(…)))
    // text, which recompiled a fresh multi-thousand-statement method per
    // Lloyd iteration (measured: 4.3 s driver gap on
    // index:embed_kmeans_model) and shipped ~1.6 MB task binaries.
    // Bitwise-identical assignments: same widen-then-subtract per element,
    // same left-associative per-center sum, same (d², label) tie-break
    // (NearestF64's scaladoc carries the parity argument; NearestF64Spec
    // proves it row-for-row against the unrolled form).
    e.select(col("*"), NearestF64.nearest(col("embedding"), cents).getField("l").as("assigned"))
  }

  /** [[assignCenters]] for plans that have NO scan boundary to split the
    * stage — the streaming micro-batch path (graft.streaming.StreamIndex).
    * Historically a higher-order-function fold (interpreted lambda) so the
    * stage's generated code stayed under Janino's method limit; since the
    * native nearestf64 is one static call, both paths share the same
    * expression and the batch/stream row-for-row equality
    * (StreamIndexSpec) holds by construction. */
  private[graft] def assignCentersCompact(e: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame =
    assignCenters(e, cents)

  /** IVF coarse quantization (assignment view). */
  def ivfAssign(s: SparkSession, dir: String): DataFrame =
    assignAll(s, dir)
      .select(col("vec_id"), col("label"), col("assigned"),
        (col("assigned") === col("label")).as("correct"))
      .orderBy(col("vec_id"))

  // ------------------------------------------------- unsupervised codebook
  val KmeansK = 8
  val KmeansIters = 3

  /** Deterministic Lloyd k-means — the UNSUPERVISED codebook trainer the
    * per-label centroids stood in for (real 100 TB corpora are unlabeled;
    * every IVF/PQ structure above is label-agnostic, this produces the
    * codebook they need without labels).
    *
    * Determinism, engine-portable end to end:
    *  - seeding: the k vectors with the smallest (md5("seed:" || vec_id),
    *    vec_id) — hash-derived pseudo-random initial centers, center id =
    *    seed rank 0..k-1;
    *  - assignment: the same baked-literal argmin as [[assignCenters]]
    *    (tie → smaller center id);
    *  - update: the same floor-quantized DECIMAL(38,0) accumulation as
    *    [[sparkCentComp]], divided in double — bitwise equal to the DuckDB
    *    oracle's fixed-iteration CTE unroll;
    *  - empty clusters keep their previous center (COALESCE in the oracle).
    *
    * Scale shape: each iteration is ONE pass over the corpus — a narrow
    * codegen'd argmin followed by a k-row partial aggregation — plus a
    * k×64-double driver fetch to bake the next iteration's literals. That
    * is textbook distributed k-means: the corpus never shuffles (map-side
    * combine reduces to k rows), rounds are a small constant, and the
    * driver state is metadata-sized. */
  private val kmeansCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[Seq[(Long, Array[Double], Long)]]]()

  /** Seed centers: (center_id = seed rank, vector). */
  private def kmeansSeeds(s: SparkSession, dir: String): Seq[(Long, Array[Double])] = {
    val rows = Tables(s, dir, "embeddings")
      .select(col("vec_id") +:
        (1 to Dims).map(i => expr(s"CAST(element_at(embedding, $i) AS DOUBLE)").as(s"e$i")): _*)
      .withColumn("sk", md5(concat(lit("seed:"), col("vec_id").cast(StringType))))
      .orderBy(col("sk"), col("vec_id"))
      .limit(KmeansK)
      .collect()
    rows.zipWithIndex.map { case (r, i) =>
      (i.toLong, (1 to Dims).map(r.getDouble).toArray)
    }
  }

  /** One Lloyd iteration: assign every vector to its nearest baked center,
    * recompute quantized means. Returns (center_id, center, cluster size);
    * an empty cluster keeps its previous center with size 0.
    *
    * ONE job per iteration: the argmin fuses straight into the
    * 64-decimal-sum partial aggregate (scan → nearestf64 → hash agg, all
    * one codegen'd stage). Through round 15 the assignment had to be
    * MATERIALIZED first — the k×64-literal unrolled argmin plus the
    * 64-sum aggregate in one generated method blew Janino's 64 KB limit —
    * which cost a cache job + the aggregate job + executor memory per
    * iteration. With the argmin reduced to one static call
    * (graft.expr.NearestF64) the fused stage compiles comfortably, the
    * corpus is read once per iteration, and nothing is pinned in memory. */
  private def lloydStep(e: DataFrame,
      cents: Seq[(Long, Array[Double])]): Seq[(Long, Array[Double], Long)] = {
    val sums = count(lit(1)).as("n") +:
      (1 to Dims).map(i => expr(sparkCentComp(i)).as(s"s$i"))
    val byId = assignCenters(e, cents)
      .groupBy(col("assigned")).agg(sums.head, sums.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    cents.map { case (cid, old) =>
      byId.get(cid) match {
        case Some(r) =>
          val n = r.getLong(1)
          (cid, (1 to Dims).map(i => r.getDouble(1 + i) / n).toArray, n)
        case None => (cid, old, 0L)
      }
    }
  }

  /** Center history: index t = centers (+ cluster sizes) after t Lloyd
    * iterations; index 0 = seeds. Memoized per corpus dir. */
  private def kmeansHistory(s: SparkSession,
      dir: String): IndexedSeq[Seq[(Long, Array[Double], Long)]] =
    kmeansCache.computeIfAbsent(dir, { d =>
      val e = Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val h = Vector.newBuilder[Seq[(Long, Array[Double], Long)]]
      var cur = kmeansSeeds(s, d).map { case (cid, cv) => (cid, cv, 0L) }
      h += cur
      (1 to KmeansIters).foreach { _ =>
        cur = lloydStep(e, cur.map { case (cid, cv, _) => (cid, cv) })
        h += cur
      }
      h.result()
    })

  /** The final learned codebook as plain (center_id, center) pairs — what
    * the streaming incremental index build freezes at start-up (centroid
    * re-training is an index REBUILD, as in every IVF deployment). */
  private[graft] def learnedCenters(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) }

  /** q74 gate: the learned centers after [[KmeansIters]] Lloyd iterations
    * — (center_id, n, c1..c4), hash-matched against the oracle's full
    * fixed-iteration CTE unroll. The distributed work is the loop in
    * [[kmeansHistory]] (two codegen'd stages per iteration: narrow argmin
    * pass, 64-sum partial aggregate); this just presents the k×64-double
    * result, which is metadata-sized by construction. */
  def kmeansCentroids(s: SparkSession, dir: String): DataFrame = {
    val fin = kmeansHistory(s, dir)(KmeansIters)
    val schema = StructType(Seq(
      StructField("center_id", LongType, nullable = false),
      StructField("n", LongType, nullable = false)) ++
      (1 to 4).map(i => StructField(s"c$i", DoubleType, nullable = false)))
    s.createDataFrame(
      s.sparkContext.parallelize(fin.map { case (cid, cv, n) =>
        org.apache.spark.sql.Row(cid, n, cv(0), cv(1), cv(2), cv(3))
      }, 1), schema)
      .orderBy(col("center_id"))
  }

  /** Per-subspace learned PQ codebooks — the PQ half of the unsupervised
    * upgrade (coarse IVF k-means is [[kmeansHistory]]): for each of the
    * [[PqM]] subspaces, k=[[KmeansK]] centers trained by the same
    * deterministic Lloyd discipline over that subspace's 8 dims,
    * initialized from the SAME hash-derived seed vectors as the coarse
    * quantizer (the standard shared-training-sample shape).
    *
    * Scale shape: all 8 subspaces train in the SAME passes — one narrow
    * projection computes all 8 per-subspace argmins (512 multiply terms
    * total, the size of one 64-dim argmin — compiles), is materialized
    * (the [[lloydStep]] codegen split), and 8 k-row aggregations read it.
    * Per iteration: one corpus pass + 8 metadata-sized aggs. */
  private val pqKmeansCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[Seq[(Long, Array[Double])]]]()

  private def pqKmeansCodebooks(s: SparkSession,
      dir: String): IndexedSeq[Seq[(Long, Array[Double])]] =
    pqKmeansCache.computeIfAbsent(dir, { d =>
      var books: IndexedSeq[Seq[(Long, Array[Double])]] =
        (0 until PqM).map { m =>
          kmeansSeeds(s, d).map { case (cid, cv) =>
            (cid, cv.slice(m * PqSub, m * PqSub + PqSub))
          }
        }
      val e = Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      (1 to KmeansIters).foreach { _ =>
        // all 8 per-subspace argmins as offset-windowed nearestf64 calls —
        // generated source identical across iterations (see assignCenters)
        val assigned = e.select(col("embedding") +:
          (0 until PqM).map { m =>
            NearestF64.nearest(col("embedding"), books(m), m * PqSub).getField("l")
              .as(s"a$m")
          }: _*).cache()
        try {
          // The 8 per-subspace aggregations are independent k-row jobs over
          // the same cached assignment view — submit them concurrently
          // (Par.map keeps subspace order, so `books` stays deterministic).
          val prev = books
          books = graft.ops.Par.map(0 until PqM) { m =>
            val sums = count(lit(1)).as("n") +:
              (1 to PqSub).map(j => expr(sparkCentComp(m * PqSub + j)).as(s"s$j"))
            val byId = assigned.groupBy(col(s"a$m")).agg(sums.head, sums.tail: _*)
              .collect().map(r => r.getLong(0) -> r).toMap
            prev(m).map { case (cid, old) =>
              byId.get(cid) match {
                case Some(r) =>
                  val n = r.getLong(1)
                  (cid, (1 to PqSub).map(j => r.getDouble(1 + j) / n).toArray)
                case None => (cid, old)
              }
            }
          }.toIndexedSeq
        } finally assigned.unpersist()
      }
      books
    })

  /** PQ encode over the LEARNED per-subspace codebooks (q78) — q62's
    * narrow argmin projection with unsupervised codebook literals: the
    * production encode for an unlabeled corpus. Same plan shape: the whole
    * codebook bakes into one codegen'd projection, no join, no shuffle. */
  private def pqKmeansCodes(s: SparkSession, dir: String): DataFrame = {
    val books = pqKmeansCodebooks(s, dir)
    val codeCols = (0 until PqM).map { m =>
      NearestF64.nearest(col("embedding"), books(m), m * PqSub).getField("l")
        .as(s"code$m")
    }
    Tables(s, dir, "embeddings").select(col("vec_id") +: codeCols: _*)
  }

  def pqKmeansEncode(s: SparkSession, dir: String): DataFrame =
    pqKmeansCodes(s, dir).orderBy(col("vec_id"))

  /** Memoized cached LEARNED-codes view — the unsupervised sibling of
    * [[pqIndexCache]]. */
  private val pqKmeansIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** FULLY-LEARNED IVF-PQ search (q79): the q68 pipeline with every
    * constant unsupervised — learned coarse assignment prunes to the
    * query's cluster, learned per-subspace codes rank by ADC. This is the
    * complete billion-scale layout a real (unlabeled) corpus deploys:
    * partition by learned coarse cluster, store learned codes, never touch
    * a label or a raw corpus vector during search. Same plan shape as q68:
    * broadcast query side, both cached index views, per-query window. */
  def kmeansIvfPqTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "kmeans_ivfpq")(kmeansIvfPqTopKPlan(s, dir))

  private[graft] def kmeansIvfPqTopKPlan(s: SparkSession, dir: String): DataFrame = {
    val books = pqKmeansCodebooks(s, dir)
    val asg = graft.ops.Memo.getOrCache(kmeansAssignCache, s, dir, _ =>
      assignCenters(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) }).cache())
    val codes = graft.ops.Memo.getOrCache(pqKmeansIndexCache, s, dir, _ =>
      pqKmeansCodes(s, dir).cache())
    val q = asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("assigned").as("qcluster"))
    val c = asg.select(col("vec_id").as("neighbor_id"), col("assigned").as("ncluster"))
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val joined = broadcast(q).join(c,
        col("qcluster") === col("ncluster") && col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcDistance("qe", books))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rn"))
  }

  // ------------------------------------------------ residual IVF-PQ (q148/q149)

  /** Cached residual view (vec_id, assigned, res[64]) where res =
    * embedding − learnedCenter(assigned) — the quantity the CANONICAL
    * IVF-PQ (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011, §IV) encodes: within a coarse cell, residuals
    * concentrate near 0, so the same 8-byte budget spends its codewords on
    * a much smaller ball than raw-vector PQ (q79) and recall rises for
    * free at identical index bytes. One narrow pass over the cached
    * assignment view: the center lookup and the subtraction are one native
    * call (graft.expr.ResidualF64Expr) with the codebook as one literal
    * value, so the residual computation codegens and never joins. */
  private val residualCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def residuals(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.getOrCache(residualCache, s, dir, { _ =>
      val cents = learnedCenters(s, dir)
      val asg = graft.ops.Memo.getOrCache(kmeansAssignCache, s, dir, _ =>
        assignCenters(
          Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          cents).cache())
      asg.select(col("vec_id"), col("assigned"),
        NearestF64.residual(col("embedding"), col("assigned"), cents).as("res"))
        .cache()
    })

  /** Per-subspace PQ codebooks trained on RESIDUALS — [[pqKmeansCodebooks]]
    * with the corpus replaced by the residual view (same deterministic
    * Lloyd discipline, same shared hash-derived seed sample, seeds taken as
    * those vectors' residuals). Scale shape is identical: all 8 subspaces
    * train in the same passes, one materialized argmin projection + 8
    * metadata-sized aggregations per iteration. */
  private val residualPqCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[Seq[(Long, Array[Double])]]]()

  private def resCentComp(i: Int): String =
    s"CAST(SUM(CAST(FLOOR(element_at(res, $i) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12"

  private def residualPqCodebooks(s: SparkSession,
      dir: String): IndexedSeq[Seq[(Long, Array[Double])]] =
    residualPqCache.computeIfAbsent(dir, { d =>
      val r = residuals(s, d)
      var books: IndexedSeq[Seq[(Long, Array[Double])]] = {
        val seedRows = r
          .withColumn("sk", md5(concat(lit("seed:"), col("vec_id").cast(StringType))))
          .orderBy(col("sk"), col("vec_id"))
          .limit(KmeansK)
          .select(col("res"))
          .collect()
        (0 until PqM).map { m =>
          seedRows.zipWithIndex.map { case (row, i) =>
            (i.toLong, row.getSeq[Double](0).slice(m * PqSub, m * PqSub + PqSub).toArray)
          }.toSeq
        }
      }
      (1 to KmeansIters).foreach { _ =>
        val assigned = r.select(col("res") +:
          (0 until PqM).map { m =>
            NearestF64.nearest(col("res"), books(m), m * PqSub).getField("l")
              .as(s"a$m")
          }: _*).cache()
        try {
          // Same concurrent-submission shape as [[pqKmeansCodebooks]]: 8
          // independent k-row aggregations over one cached view.
          val prev = books
          books = graft.ops.Par.map(0 until PqM) { m =>
            val sums = count(lit(1)).as("n") +:
              (1 to PqSub).map(j => expr(resCentComp(m * PqSub + j)).as(s"s$j"))
            val byId = assigned.groupBy(col(s"a$m")).agg(sums.head, sums.tail: _*)
              .collect().map(rr => rr.getLong(0) -> rr).toMap
            prev(m).map { case (cid, old) =>
              byId.get(cid) match {
                case Some(rr) =>
                  val n = rr.getLong(1)
                  (cid, (1 to PqSub).map(j => rr.getDouble(1 + j) / n).toArray)
                case None => (cid, old)
              }
            }
          }.toIndexedSeq
        } finally assigned.unpersist()
      }
      books
    })

  /** Residual PQ encode: per-subspace argmin of each vector's residual
    * against the residual-trained codebook — q62's narrow baked-literal
    * projection over the residual view. The (assigned, code0..7) row IS
    * the complete IVF-PQ index entry: coarse cell + 8-byte residual code. */
  private def residualPqCodes(s: SparkSession, dir: String): DataFrame = {
    val books = residualPqCodebooks(s, dir)
    val codeCols = (0 until PqM).map { m =>
      NearestF64.nearest(col("res"), books(m), m * PqSub).getField("l")
        .as(s"code$m")
    }
    residuals(s, dir).select(col("vec_id") :: col("assigned") :: codeCols.toList: _*)
  }

  private val residualPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def residualPqEncode(s: SparkSession, dir: String): DataFrame =
    residualPqCodes(s, dir).orderBy(col("vec_id"))

  /** Residual IVF-PQ search (q149): the q79 pipeline with residual-trained
    * codes — the exact layout of production billion-scale indexes (IVFADC).
    * Plan shape unchanged: broadcast query side (with its residual), both
    * cached index views, per-query window; measured against the same
    * ground truth in the q77/q113 panel, where the residual encoding's
    * recall gain over raw-vector IVF-PQ is the whole point. */
  def residualIvfPqTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "rivfpq")(residualIvfPqTopKPlan(s, dir))

  private[graft] def residualIvfPqTopKPlan(s: SparkSession, dir: String): DataFrame = {
    val books = residualPqCodebooks(s, dir)
    val codes = graft.ops.Memo.getOrCache(residualPqIndexCache, s, dir, _ =>
      residualPqCodes(s, dir).cache())
    val q = residuals(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("res").as("qres"),
        col("assigned").as("qcluster"))
    val c = codes.select(col("vec_id").as("neighbor_id") +: col("assigned").as("ncluster") +:
      (0 until PqM).map(m => col(s"code$m")): _*)
    val joined = broadcast(q).join(c,
        col("qcluster") === col("ncluster") && col("neighbor_id") =!= col("query_id"))
      // ADC of the QUERY's residual in its own coarse cell (probe = query's
      // cell, so both sides' residuals are against the same center and the
      // distance approximates ‖q − x‖² exactly as in the canonical scheme)
      .withColumn("adc", adcDistance("qres", books))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Learned-codebook IVF assignment (q75): every vector assigned to its
    * nearest k-means center — the unlabeled-corpus replacement for q53's
    * per-label assignment, same narrow plan shape. */
  def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    assignCenters(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) })
      .select(col("vec_id"), col("assigned"))
      .orderBy(col("vec_id"))

  /** Memoized cached learned-codebook assignment view (the k-means IVF
    * index), mirroring [[assignCache]] for the per-label index. */
  private val kmeansAssignCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** IVF top-3 over the LEARNED codebook (q76): q55's probe join re-pointed
    * at the unsupervised index — the proof that the ANN plumbing never
    * needed labels. Identical scale shape: broadcast query side, corpus
    * pruned to the probed cluster via the cached assignment view. */
  def kmeansIvfTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "kmeans_ivf")(kmeansIvfTopKPlan(s, dir))

  private[graft] def kmeansIvfTopKPlan(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.ops.Memo.getOrCache(kmeansAssignCache, s, dir, _ =>
      assignCenters(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) }).cache())
    val q = asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("assigned").as("qcluster"))
    val c = asg.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("assigned").as("ncluster"))
    val joined = broadcast(q).join(c,
        col("qcluster") === col("ncluster") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup scoped
    * by the LEARNED k-means clusters — within each cluster, pairs at or
    * above [[SemDedupTau]] cosine form duplicate groups (connected
    * components), and each group keeps the member FARTHEST from its
    * cluster centroid (the paper's diversity-preserving choice: the
    * prototypical member is the one most redundant with the cluster
    * itself), i.e. minimum centroid-direction score, ties to the smaller
    * vec_id. τ = 0.35 is calibrated to this corpus' cosine range (its
    * within-cluster ~99.9th percentile — the synthetic embeddings have no
    * 0.95-cosine near-copies); the knob, not the shape, changes in
    * production.
    *
    * Scale shape: the candidate scope IS the cluster — SemDeDup's own
    * scaling argument (k grows with n so |cluster| stays bounded; the
    * paper uses 50k clusters for 100M docs). The pair join is one shuffle
    * of the MEMOIZED assignment view on the cluster key; components and
    * the keep decision run on the (tiny) pair graph; centroid scores are
    * a narrow baked-literal scan. The corpus never joins itself
    * un-clustered. */
  val SemDedupTau = 0.35

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val cents = kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) }
    val asg = graft.ops.Memo.getOrCache(kmeansAssignCache, s, dir, _ =>
      assignCenters(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        cents).cache())
    // norms precomputed in the narrow scan projection so the pair-join
    // stage fuses exactly ONE 64-term dot (three fused chains overflow
    // Janino's method limit in the BHJ consume and fall back silently —
    // the radiusSearch/probeTopK discipline)
    val a = asg.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
      col("assigned").as("cl"),
      expr(s"sqrt(${sparkDot("embedding", "embedding")})").as("na"))
    val b = asg.select(col("vec_id").as("b_id"), col("embedding").as("be"),
      col("assigned").as("cl"),
      expr(s"sqrt(${sparkDot("embedding", "embedding")})").as("nb"))
    val pairs = a.join(b, Seq("cl"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", expr(s"(${sparkDot("ae", "be")}) / (na * nb)"))
      .filter(col("cosine") >= lit(SemDedupTau))
      .select(col("a_id"), col("b_id"))
    val comp = DedupOpsImpl.connectedComponents(pairs)
    // centroid-direction score: dot(e, center(assigned)) / |e| — within a
    // cluster this ranks identically to cosine-to-centroid (|center| is a
    // per-cluster constant) with one fewer 64-term chain in the plan.
    // Through round 15 the center lookup was a per-row HOF `filter` over
    // the baked codebook and the dot a per-row HOF `aggregate` fold — both
    // evaluate INTERPRETED (HOF lambdas don't codegen), on a corpus-sized
    // scan. Now: `array_position` into parallel baked literal arrays for
    // the lookup and native `dotf64` for the dot — the whole projection
    // codegens. Bitwise parity: array_position picks the same unique
    // center the filter matched; dotf64's left-associative widen-then-
    // multiply fold from 0.0 is the HOF fold's exact IEEE sequence
    // (0D + t1 ≡ t1; DotF64's scaladoc carries the argument).
    val labelsSql = cents.map(c => s"${c._1}L").mkString("array(", ",", ")")
    val cvsSql = cents.map(c => c._2.map(v => s"${v}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val scored = asg
      .withColumn("cv",
        expr(s"element_at($cvsSql, CAST(array_position($labelsSql, assigned) AS INT))"))
      .withColumn("cdot", expr(s"dotf64(embedding, cv)"))
      .select(col("vec_id"), col("assigned").as("cluster"),
        (col("cdot") / expr(s"sqrt(${sparkDot("embedding", "embedding")})")).as("score"))
    val members = broadcast(comp).join(scored, comp("id") === scored("vec_id"))
      .select(col("vec_id"), col("cluster"), col("comp").as("group_id"), col("score"))
    val w = Window.partitionBy(col("group_id")).orderBy(col("score"), col("vec_id"))
    val kept = members.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("group_id"), col("vec_id").as("kept_id"))
    members.join(broadcast(kept), Seq("group_id"))
      .select(col("vec_id"), col("cluster"), col("group_id"), col("kept_id"))
      .orderBy(col("vec_id"))
  }

  /** IVF-probed ANN: search only the query's own coarse cluster instead of
    * the whole corpus — the 100 TB scale path (cluster = partition prune;
    * cost drops from O(corpus) to O(corpus / k) per query at equal recall
    * for in-cluster neighbors). Top-3 by cosine within the probed cluster. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "ivf")(ivfTopKPlan(s, dir))

  private[graft] def ivfTopKPlan(s: SparkSession, dir: String): DataFrame = {
    // The assignment view is the IVF *index*: materialize it once (at real
    // scale you persist it to storage next to the corpus) instead of
    // re-deriving the k×64-literal argmin on both sides of the probe join —
    // that also keeps the optimizer from dragging the large argmin
    // expression through join analysis twice.
    val asg = graft.ops.Memo.getOrCache(assignCache, s, dir, _ => assignAll(s, dir).cache())
    val q = asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("assigned").as("qcluster"))
    val c = asg.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("assigned").as("ncluster"))
    val joined = broadcast(q).join(c,
        col("qcluster") === col("ncluster") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Multi-probe IVF top-3 (nprobe = 2): the standard IVF recall lever —
    * the query searches its TWO nearest coarse clusters instead of one,
    * recovering neighbors that fell just across a Voronoi boundary at 2/k
    * of the corpus per query (vs 1/k single-probe, still never a full
    * scan). The corpus keeps its single-cluster assignment (that IS the
    * partition layout at scale); only the broadcast query side fans out to
    * nprobe rows, so the probe join stays a broadcast hash probe of the
    * same materialized index q55 uses. Probe ranking = the (dist², label)
    * order of `array_sort` over (d, l) structs, computed natively — same
    * tie discipline as the argmin. */
  def ivfMultiProbeTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "ivf_multiprobe")(ivfMultiProbeTopKPlan(s, dir))

  private[graft] def ivfMultiProbeTopKPlan(s: SparkSession, dir: String): DataFrame =
    ivfProbeTopKN(s, dir, 2).orderBy(col("query_id"), col("rn"))

  /** nprobe values the q158 sweep executes. */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4)

  /** [[ivfMultiProbeTopKPlan]] at an arbitrary probe count. The query's
    * probe list is one native call (graft.expr.NearestNF64Expr): the n
    * nearest center labels by (d², label), bitwise the order the unrolled
    * `array_sort(array(struct(d, l), …))` over k × 64 literal terms gave
    * (NearestNF64Spec). The query side is 8 rows with a small plan, so it
    * needs no checkpoint to keep CollapseProject from re-inlining it. */
  private def ivfProbeTopKN(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val asg = graft.ops.Memo.getOrCache(assignCache, s, dir, _ => assignAll(s, dir).cache())
    val probes = NearestF64.nearestLabels(col("qe"), centroidVectors(s, dir), nprobe)
    val q = (1 to nprobe).foldLeft(
        asg.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          .withColumn("pr", probes)) {
      case (df, p) => df.withColumn(s"qc$p", element_at(col("pr"), p))
    }.drop("pr")
    val c = asg.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("assigned").as("ncluster"))
    val probeCond = (1 to nprobe).map(p => col("ncluster") === col(s"qc$p"))
      .reduce(_ || _)
    val joined = broadcast(q).join(c,
        probeCond && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
  }

  /** q158: the nprobe SWEEP — the IVF-side twin of the dedup banding sweep
    * (q155): nprobe ∈ [[NprobeSweep]] executed over the same index and
    * measured against the exact ground truth, next to the corpus fraction
    * each probe level touches (nprobe/k — the probe's scan budget). q77
    * reports the single production point; this panel is the full curve a
    * user tunes along, and it makes the diminishing-returns shape concrete
    * (recall rises with nprobe, cost rises linearly).
    *
    * Scale shape: each probe level is the audited broadcast-query probe
    * over the cached assignment view; the ground truth is the memoized
    * exact top-k (broadcast-sized); the panel is |sweep| rows. */
  def ivfNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    val k = centroidVectors(s, dir).size.toLong
    val exact = cosineTopK(s, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val exactB = broadcast(exact.withColumn("hit", lit(1L)))
    // the probe levels are INDEPENDENT probes over the cached assignment
    // view — submit them concurrently (Par, the ANN-panel pattern);
    // per-level one-row aggregates fold in declaration order
    val perProbe = graft.ops.Par.map(NprobeSweep) { np =>
      ivfProbeTopKN(s, dir, np)
        .join(exactB, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_found"),
          sum(coalesce(col("hit"), lit(0L))).as("matched"))
        .select(lit(np.toLong).as("nprobe"), col("n_found"), col("matched"))
        .localCheckpoint()
    }
    val hits = perProbe.reduce(_ unionByName _)
      .filter(col("n_found") > 0).drop("n_found") // groupBy parity
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(broadcast(tot))
      .select(col("nprobe"), lit(k).as("k_clusters"), col("matched"), col("n_exact"),
        (col("matched").cast(DoubleType) / col("n_exact")).as("recall"),
        (col("nprobe").cast(DoubleType) / lit(k).cast(DoubleType)).as("frac_probed"))
      .orderBy(col("nprobe"))
  }

  /** Two-stage retrieval: ADC SHORTLIST (top-10 by PQ-approximate distance,
    * scanning only the 8-byte codes) → EXACT re-rank (true cosine on just
    * the shortlist) → top-3. This is the shape a 100 TB deployment actually
    * runs: stage 1 touches the compressed index only (1/32 of the bytes,
    * no raw vectors), stage 2 fetches raw vectors for shortlist × queries
    * rows — a few hundred — so the expensive exact math is O(shortlist),
    * not O(corpus). Recall is whatever the shortlist captures; deepening
    * the shortlist trades stage-2 work for recall without re-touching the
    * corpus. */
  def pqAdcRerank(s: SparkSession, dir: String, shortlist: Int = 10): DataFrame =
    if (shortlist == 10) memoPath(s, dir, "adc_rerank")(pqAdcRerankPlan(s, dir, 10))
    else pqAdcRerankPlan(s, dir, shortlist)

  private[graft] def pqAdcRerankPlan(s: SparkSession, dir: String, shortlist: Int): DataFrame = {
    val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val n = graft.ops.Memo.getOrCache(pqIndexCache, s, dir, _ => pqCodes(s, dir).cache())
      .withColumnRenamed("vec_id", "neighbor_id")
    val wa = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    val short = broadcast(q).join(n, col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcDistance("qe", pqSubBooks(centroidVectors(s, dir))))
      .withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= shortlist)
      .select(col("query_id"), col("qe"), col("neighbor_id"))
    // the shortlist is ≤ queries × shortlist rows BY CONSTRUCTION — it is
    // the broadcast side regardless of corpus size (without the hint the
    // optimizer broadcasts whichever side is small at stats time, which at
    // 100 TB would be neither)
    val exact = broadcast(short).join(
        Tables(s, dir, "embeddings").select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ce")),
        "neighbor_id")
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rn", row_number().over(wr).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** IVF-PQ: the canonical billion-scale ANN index layout (coarse quantizer
    * prunes, product quantizer compresses) — probe the query's coarse
    * cluster, rank the IN-CLUSTER candidates by ADC over the 8-byte codes.
    * At 100 TB the corpus is partitioned by coarse cluster and stores only
    * codes: a query touches 1/k of the partitions and 1/32 of the bytes —
    * both prunings compose. Here both index views are the memoized cached
    * ones (assignment + codes), so the probe is a broadcast hash join
    * against cached columns; exact re-rank of the ADC top-k (q66's stage 2)
    * completes the production pipeline. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "ivfpq")(ivfPqTopKPlan(s, dir))

  private[graft] def ivfPqTopKPlan(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.ops.Memo.getOrCache(assignCache, s, dir, _ => assignAll(s, dir).cache())
    val codes = graft.ops.Memo.getOrCache(pqIndexCache, s, dir, _ => pqCodes(s, dir).cache())
    val q = asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("assigned").as("qcluster"))
    val c = asg.select(col("vec_id").as("neighbor_id"), col("assigned").as("ncluster"))
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val joined = broadcast(q).join(c,
        col("qcluster") === col("ncluster") && col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcDistance("qe", pqSubBooks(centroidVectors(s, dir))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Metadata-FILTERED ANN (top-3 cosine among corpus vectors whose joined
    * document is lang = 'en') — the classically hard vector-search shape:
    * dedicated vector stores bolt filters on after the fact (post-filter →
    * recall collapses under selective predicates) or maintain per-filter
    * indexes. In a relational engine the filter is just a join/predicate
    * that PRECEDES the distance work: the metadata join prunes the corpus
    * before any dot product is computed, and at scale the lang column lives
    * in the same parquet row-group as the vector, so pruning happens in the
    * scan itself (predicate + column pushdown) — no second index, full
    * recall on the filtered set. */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    val enDocs = Tables(s, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id").as("neighbor_id"))
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(enDocs, "neighbor_id")
    val joined = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** int8 scalar quantization — the storage-compression step of a 100 TB
    * vector pipeline (4 bytes/dim → 1): code = floor((x − min_d) /
    * (max_d − min_d) × 255) with per-dimension global min/max, clamped.
    * floor (not round) keeps the codes bitwise-reproducible across engines.
    * Output: first 4 dim codes + reconstruction error of dim 1. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val stats = (1 to Dims).flatMap(i => Seq(
      min(expr(s"CAST(element_at(embedding, $i) AS DOUBLE)")).as(s"mn$i"),
      max(expr(s"CAST(element_at(embedding, $i) AS DOUBLE)")).as(s"mx$i")))
    val st = e.agg(stats.head, stats.tail: _*)
    def code(i: Int) =
      expr(s"CAST(least(greatest(floor((CAST(element_at(embedding, $i) AS DOUBLE) - mn$i) " +
        s"/ (mx$i - mn$i) * 255.0), 0.0), 255.0) AS BIGINT)")
    val q = e.crossJoin(broadcast(st))
    q.select(col("vec_id"),
        code(1).as("q1"), code(2).as("q2"), code(3).as("q3"), code(4).as("q4"),
        (abs(expr("CAST(element_at(embedding, 1) AS DOUBLE)")
          - (code(1).cast("double") / 255.0 * (col("mx1") - col("mn1")) + col("mn1"))))
          .as("recon_err1"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------ Product quantization
  val PqM = 8                    // subspaces
  val PqSub: Int = Dims / PqM    // dims per subspace

  /** Product-quantization codes — THE memory-compression step of a 100 TB
    * ANN index (64 float dims → 8 byte-sized codes, 32× smaller; ADC search
    * then scans codes, not vectors). Codebook per subspace = the exact
    * per-label centroids restricted to that subspace (k = #labels codes) —
    * the label-free production variant is [[pqKmeansCodebooks]]/q78, same
    * encode/search plumbing with unsupervised constants.
    *
    * Scale shape: the full codebook (M × k × 8 doubles) bakes into ONE
    * narrow projection as literals — per-row argmin via `array_min` over
    * (dist², code) structs, all inside a single codegen'd pass over the
    * scan; no join, no shuffle. Same plan discipline as [[assignAll]]. */
  private def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val books = pqSubBooks(centroidVectors(s, dir))
    val codeCols = (0 until PqM).map { m =>
      NearestF64.nearest(col("embedding"), books(m), m * PqSub).getField("l")
        .as(s"code$m")
    }
    Tables(s, dir, "embeddings").select(col("vec_id") +: codeCols: _*)
  }

  def pqEncode(s: SparkSession, dir: String): DataFrame =
    pqCodes(s, dir).orderBy(col("vec_id"))

  /** The per-label centroids cut into the [[PqM]] subspace codebooks. */
  private def pqSubBooks(cents: Seq[(Long, Array[Double])]): IndexedSeq[Seq[(Long, Array[Double])]] =
    (0 until PqM).map { m =>
      cents.map { case (cl, cv) => (cl, cv.slice(m * PqSub, m * PqSub + PqSub)) }
    }

  /** Σ_m ‖q_m − books(m)[code_m]‖² of query column `q` against the
    * candidate's code0…code7 — native (graft.expr.AdcF64Expr): one static
    * call per row with the codebooks as one reference object. The unrolled
    * Column tree it replaced (64 per-row k-double literal arrays plus 8
    * `array_position` lookups, ~1,000 plan nodes per search) cost planning
    * and codegen on every call; AdcF64's scaladoc carries the bitwise
    * parity argument against the unrolled DuckDB oracles, and
    * AdcF64Spec proves it row for row. */
  private def adcDistance(q: String, books: IndexedSeq[Seq[(Long, Array[Double])]]): Column =
    graft.expr.AdcF64.adcDistance(col(q), array((0 until PqM).map(m => col(s"code$m")): _*),
      books)

  /** Asymmetric-distance (ADC) top-3 per query over the PQ codes: the query
    * stays exact, every corpus vector is reconstructed from its codes, and
    * distance = Σ_m ‖q_sub − codebook_m[code_m]‖². The decisive 100 TB
    * property: the scan side touches ONLY the compressed representation —
    * at deployment the (vec_id, codes) file plus the broadcast codebook;
    * here the chosen-centroid projection stands in for the code lookup —
    * never the raw corpus vectors (queries are broadcast, corpus streams
    * once, per-query heap via WindowGroupLimit). */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "pq_adc")(pqAdcTopKPlan(s, dir))

  private[graft] def pqAdcTopKPlan(s: SparkSession, dir: String): DataFrame =
    adcSearch(s, dir,
      graft.ops.Memo.getOrCache(pqIndexCache, s, dir, _ => pqCodes(s, dir).cache()))

  /** ADC top-3 over an arbitrary (vec_id, code0..code7) index view — the
    * search half of the encode/search split. The gate path hands it the
    * memoized cached view; a deployment hands it the PERSISTED codes table
    * read back from storage (PersistedIndexSpec proves both give identical
    * results — the build-once / search-many contract). */
  def adcSearch(s: SparkSession, dir: String, codes: DataFrame): DataFrame = {
    val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val n = codes.withColumnRenamed("vec_id", "neighbor_id")
    val joined = broadcast(q).join(n, col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adcDistance("qe", pqSubBooks(centroidVectors(s, dir))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adc"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Deterministic ±1 hyperplanes: sign = parity of the first hex nibble of
    * md5("j:i"). Computed once here and baked into both engines' SQL. */
  lazy val hyperplanes: IndexedSeq[IndexedSeq[Int]] = {
    val mdt = MessageDigest.getInstance("MD5")
    (0 until 16).map { j =>
      (1 to Dims).map { i =>
        val h = mdt.digest(s"$j:$i".getBytes(StandardCharsets.UTF_8))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  /** 16-bit sign-random-projection LSH signature per vector. At scale,
    * equal signatures form the ANN candidate buckets. */
  def lshSignature(elem: Int => String): String =
    (0 until 16).map { j =>
      val proj = (1 to Dims).map(i => s"${hyperplanes(j)(i - 1)} * ${elem(i)}").mkString(" + ")
      s"CASE WHEN ($proj) > 0.0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")

  /** Johnson-Lindenstrauss random projection 64 → 16 dims over the SAME
    * deterministic ±1 hyperplanes the sign-LSH uses (sign-LSH IS the 1-bit
    * quantization of this projection): p_j = Σ_i h_j(i)·x_i · 1/√16. The
    * cheap distance path of a 100 TB pipeline — a 4× smaller dense sketch
    * whose pairwise distances approximate the original within JL bounds,
    * used to pre-filter before exact math. One narrow codegen'd pass; the
    * 1/√16 = 0.25 scale is exactly representable, so both engines emit
    * identical bits. First four projected dims exposed for the gate.
    *
    * The projection is native (graft.expr.JlProjectExpr): one static call
    * with the hyperplanes as a reference object, bitwise the unrolled
    * 64-term chain per dim the DuckDB oracle runs (JlProjectSpec). */
  def jlProject(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), jlSketchOf(col("embedding"), 4).as("p"))
      .select(col("vec_id") +: (0 until 4).map(j => element_at(col("p"), j + 1).as(s"p$j")): _*)
      .orderBy(col("vec_id"))

  /** The first n JL dims of `vec` as one `array<double>`. */
  private def jlSketchOf(vec: Column, n: Int): Column =
    graft.expr.JlProject.jlProject(vec, hyperplanes.take(n), 0.25)

  /** All 16 JL projections as one `array<double>` column `p` — the dense
    * sketch table. At scale this is materialized next to the corpus like
    * the PQ codes. */
  private def jlSketch(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), jlSketchOf(col("embedding"), 16).as("p"))

  /** Two-stage retrieval on the JL sketch: shortlist top-10 by 16-dim
    * sketch L2 (4× fewer multiply-adds per candidate than the raw 64-dim
    * distance, and at deployment the sketch table is ¼ the bytes), then
    * exact cosine re-rank of the shortlist — the dense-sketch sibling of
    * the PQ path (q66): same candidates-then-verify economics, different
    * compression point on the accuracy/size curve. */
  def jlRerank(s: SparkSession, dir: String, shortlist: Int = 10): DataFrame =
    if (shortlist == 10) memoPath(s, dir, "jl_rerank")(jlRerankPlan(s, dir, 10))
    else jlRerankPlan(s, dir, shortlist)

  private[graft] def jlRerankPlan(s: SparkSession, dir: String, shortlist: Int): DataFrame = {
    val sk = jlSketch(s, dir)
    val q = sk.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("p").as("qp"))
    val n = sk.select(col("vec_id").as("neighbor_id"), col("p"))
    val d16 = (1 to 16).map { j =>
      val d = element_at(col("qp"), j) - element_at(col("p"), j)
      d * d
    }.reduce(_ + _)
    val wa = Window.partitionBy(col("query_id")).orderBy(col("d16"), col("neighbor_id"))
    val short = broadcast(q).join(n, col("neighbor_id") =!= col("query_id"))
      .withColumn("d16", d16)
      .withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val e = Tables(s, dir, "embeddings")
    val exact = broadcast(short)
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "neighbor_id")
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rn", row_number().over(wr).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Spark side uses the native SignLshExpr (codegen-safe single pass,
    * bitwise-equal to the unrolled SQL the DuckDB oracle runs). */
  def lshBuckets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(
      col("vec_id"),
      graft.expr.SignLshFunctions.signLsh(col("embedding"), hyperplanes).as("sig"))
      .orderBy(col("vec_id"))

  val NearDupBands = 4
  val NearDupBandBits = 4
  val NearDupBucketCap = 50

  /** Candidate-generation health check for [[cosineNearDupPairs]] (ADVICE
    * r2): with fixed band geometry, a growing corpus pushes ever more
    * buckets over the cap and the candidate set silently shrinks toward
    * empty while still LOOKING correct. One aggregation over the banded
    * signatures returns, per band: total buckets, dropped (over-cap)
    * buckets, and the fraction of rows surviving the cap. Run it when
    * tuning geometry for a corpus: if `kept_frac` drops much below ~0.5,
    * widen `bandBits` (more buckets/band) rather than raising the cap —
    * the shuffle stays O(n × bands) either way, but cap² verify cost per
    * bucket stays bounded. */
  def nearDupDiagnostics(s: SparkSession, dir: String,
      bands: Int = NearDupBands, bandBits: Int = NearDupBandBits,
      cap: Int = NearDupBucketCap): DataFrame = {
    val banded = bandedSignatures(s, dir, bands, bandBits)
    banded.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("buckets"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("dropped_buckets"),
        (sum(when(col("n") <= cap, col("n")).otherwise(lit(0L))) / sum(col("n")))
          .as("kept_frac"))
      .orderBy(col("band"))
  }

  private def bandedSignatures(s: SparkSession, dir: String,
      bands: Int, bandBits: Int): DataFrame =
    bandedSignaturesOf(Tables(s, dir, "embeddings"), bands, bandBits)

  /** DataFrame-input form: incremental refresh ([[refreshKnnGraph]]) bands
    * arbitrary embedding snapshots, not just the registered corpus dir. */
  private[graft] def bandedSignaturesOf(emb: DataFrame,
      bands: Int, bandBits: Int): DataFrame = {
    val sig = emb.select(
      col("vec_id"),
      graft.expr.SignLshFunctions.signLsh(col("embedding"), hyperplanes).as("sig"))
    val mask = (1L << bandBits) - 1
    sig.select(col("vec_id"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("bv"))
        }: _*)).as("s"))
      .select(col("vec_id"), col("s.band").as("band"), col("s.bv").as("bv"))
  }

  /** Embedding-cosine near-dup pairs: multi-band sign-LSH candidates with a
    * bucket-size cap, exact cosine verify on candidates only, global top-50
    * most-similar pairs.
    *
    * The 16-bit signature is split into 4 independent 4-bit bands (each band
    * covers a disjoint hyperplane group); a pair is a candidate iff it
    * collides in ANY band. Buckets larger than [[NearDupBucketCap]] are
    * dropped before the self-join — the same standard LSH cap
    * [[DedupOpsImpl.minhashLsh]] uses — so the pair count is bounded by
    * buckets × cap² instead of growing n²/buckets (the round-1 single-band
    * pmod-256 form had no cap and went quadratic per bucket). At 100 TB you
    * widen the bands (more hyperplanes per band → more buckets) and keep the
    * cap; the shuffle stays O(n × bands) and the verify stays candidates-only. */
  def cosineNearDupPairs(s: SparkSession, dir: String,
      bands: Int = NearDupBands, bandBits: Int = NearDupBandBits,
      cap: Int = NearDupBucketCap): DataFrame = {
    val banded = bandedSignatures(s, dir, bands, bandBits)
    val ok = banded.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= cap).select("band", "bv")
    val bk = banded.join(ok, Seq("band", "bv"))
    val cand = bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val e = Tables(s, dir, "embeddings")
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ae")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("be")), "b_id")
      .withColumn("cosine",
        expr(s"(${sparkDot("ae", "be")}) / (sqrt(${sparkDot("ae", "ae")}) * sqrt(${sparkDot("be", "be")}))"))
      .select(col("a_id"), col("b_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Duplicate CLUSTERS from the embedding near-dup pairs — the same
    * min-label propagation as the shingle-based q46
    * (DedupOpsImpl.connectedComponents): pairwise near-dups become
    * components so a pipeline keeps one canonical vector per cluster.
    * The loop runs over the top-pair graph only (metadata-scale). */
  /** Memoized CACHED embedding-side component map per (session, dir) —
    * q58 and the q89 keep-best wrap share ONE pair generation + label
    * propagation, the same discipline as the shingle-side componentsCache. */
  private val embedComponentsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def embedComponents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.getOrCache(embedComponentsCache, s, dir, _ =>
      DedupOpsImpl.connectedComponents(
        cosineNearDupPairs(s, dir).select(col("a_id"), col("b_id"))).cache())

  def embedNearDupComponents(s: SparkSession, dir: String): DataFrame =
    embedComponents(s, dir)
      .select(col("id").as("vec_id"), col("comp").as("component"))
      .orderBy(col("vec_id"))

  /** Approximate k-NN GRAPH construction — per vector, the top-[[KnnK]]
    * cosine neighbors among its capped-LSH-bucket candidates. The graph
    * build step under graph-based ANN indexes (HNSW-family), graph
    * clustering, and label propagation at corpus scale: brute force is
    * O(n²); this is O(Σ bucket²) with buckets capped, i.e. linear in n for
    * fixed geometry. Nodes whose buckets yield no candidate are absent (a
    * second banding pass with wider bands recovers isolated nodes — same
    * knob q77 measures).
    *
    * Scale shape: identical bounds to [[cosineNearDupPairs]] — banded
    * signatures from the native codegen'd expression, bucket-cap degeneracy
    * guard, candidates distinct on (src, dst) id pairs only — but DIRECTED
    * (a ≠ b, both orientations) and ranked per src with a high-cardinality
    * window instead of a global top-50. */
  val KnnK = 3

  /** Memoized CACHED kNN graph per (session, dir) — q93's presentation and
    * q97's clustering share ONE banding + scoring + ranking pass, the same
    * build-once discipline as the index view caches. */
  private val knnGraphCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def knnGraphRaw(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.getOrCache(knnGraphCache, s, dir, { _ =>
      knnGraphOf(Tables(s, dir, "embeddings")).cache()
    })

  /** The kNN-graph build over an arbitrary embedding snapshot.
    * `srcFilter` (vec_id set) restricts which sources are RANKED while
    * candidates still come from the full bucket state — the incremental
    * refresh's contract: an affected node re-ranks against everything in
    * its (possibly changed) buckets, not just against the delta. */
  private[graft] def knnGraphOf(emb: DataFrame,
      srcFilter: Option[DataFrame] = None): DataFrame = {
    val banded = bandedSignaturesOf(emb, NearDupBands, NearDupBandBits)
    val ok = banded.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= NearDupBucketCap).select("band", "bv")
    val bk = banded.join(ok, Seq("band", "bv"))
    val aSide = srcFilter.map(f => bk.join(f, "vec_id")).getOrElse(bk)
    val cand = aSide.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("ae")), "src")
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("be")), "dst")
      .withColumn("cosine",
        expr(s"(${sparkDot("ae", "be")}) / (sqrt(${sparkDot("ae", "ae")}) * sqrt(${sparkDot("be", "be")}))"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= KnnK)
      .select(col("src"), col("rn"), col("dst"), col("cosine"))
  }

  /** INCREMENTAL kNN-graph refresh on corpus append — the delta discipline
    * [[graft.streaming.StreamIndex]] proves for IVF, applied to the graph
    * family: a node's candidate set changes ONLY if a delta vector landed
    * in one of its LSH buckets (bucket membership AND the bucket's cap
    * state are both functions of bucket contents), so refresh re-ranks
    * exactly the nodes sharing ≥ 1 band-bucket with the delta and keeps
    * every other node's edges untouched. GraphRefreshSpec proves the
    * result row-equal to a full rebuild.
    *
    * Scale shape: the delta bucket probe is |delta|×bands rows joined to
    * the banded signature table; the re-rank is the standard capped-bucket
    * top-k restricted to affected sources; untouched edges pass through an
    * anti-join — no corpus-wide re-scoring. */
  def refreshKnnGraph(s: SparkSession, embAll: DataFrame, deltaIds: DataFrame,
      oldEdges: DataFrame): DataFrame = {
    val sigs = bandedSignaturesOf(embAll, NearDupBands, NearDupBandBits)
    val deltaBuckets = sigs.join(deltaIds, "vec_id")
      .select(col("band"), col("bv")).distinct()
    val affected = sigs.join(deltaBuckets, Seq("band", "bv"))
      .select(col("vec_id")).distinct()
    val fresh = knnGraphOf(embAll, Some(affected))
    oldEdges.join(affected.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .union(fresh)
  }

  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphRaw(s, dir).orderBy(col("src"), col("rn"))

  /** CLUSTER CARDS (q134): the human-readable label for every q97 kNN
    * community — its size plus the top-3 terms by cluster-level TF-IDF
    * (term count within the cluster × inverse share of clusters containing
    * the term). This is the corpus-exploration artifact a curation owner
    * reads after clustering: embeddings find the structure, text explains
    * it — the cross-modal composition neither side gives alone.
    *
    * Scale shape: the component map is pair-graph-sized (broadcast into
    * the documents join — the corpus scans once, narrow); term stats
    * aggregate to |clusters|×|vocab-per-cluster| rows; the top-3 window
    * partitions per cluster. No corpus-sized shuffle beyond the one
    * tokenize-aggregate. */
  /** The one corpus-sized stage of [[clusterCards]], exposed for the plan
    * lock: cluster-map join ([[joinClusterMap]]: broadcast under budget,
    * shuffle hash above) → tokenize → (cluster, tok, ctf). */
  private[graft] def clusterTermCounts(s: SparkSession, dir: String): DataFrame = {
    val cl = knnClusters(s, dir)
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    joinClusterMap(s, cl, docs)
      .select(col("cluster"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("cluster"), col("tok")).agg(count(lit(1)).as("ctf"))
  }

  /** Conservative bytes-per-row estimate for the (vec_id, cluster) map
    * when deciding whether it fits a broadcast: two longs + row overhead. */
  private val ClusterMapRowBytes = 32L

  /** Join the community map onto the corpus: BROADCAST while the map
    * provably fits the budget (`spark.graft.broadcast.maxBytes`, default
    * 10 MiB — the map is pair-graph-sized, normally far below), else fall
    * back to a shuffle hash join on doc_id. Guards the r5 watch item: a
    * high near-dup-rate corpus at 100× can inflate the map past broadcast
    * size, and an unconditional broadcast hint would then OOM the driver.
    * The size probe is a count over the map's memoized checkpoint blocks,
    * not a recompute. */
  private[graft] def joinClusterMap(s: SparkSession, cl: DataFrame,
      docs: DataFrame): DataFrame = {
    val maxBytes =
      s.conf.get("spark.graft.broadcast.maxBytes", (10L << 20).toString).toLong
    val left =
      if (cl.count() * ClusterMapRowBytes <= maxBytes) broadcast(cl)
      else cl.hint("shuffle_hash")
    left.join(docs, cl("vec_id") === docs("doc_id"))
  }

  def clusterCards(s: SparkSession, dir: String): DataFrame = {
    val cl = knnClusters(s, dir)
    // checkpointed: BOTH the score branch and the cluster-df branch read
    // this |clusters|×|vocab-per-cluster| aggregate — without it Spark
    // (which shares no subplans across DataFrame branches) would tokenize
    // the corpus twice
    val toks = clusterTermCounts(s, dir).localCheckpoint()
    val cdf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cdf"))
    val ncl = cl.select(col("cluster")).distinct().agg(count(lit(1)).as("n_clusters"))
    val sizes = cl.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    // cdf is the distinct-term table (vocab-sized — MBs even at corpus
    // scale), so the term join broadcasts instead of shuffling the
    // cluster-term aggregate
    val scored = toks.join(broadcast(cdf), "tok").crossJoin(broadcast(ncl))
      .withColumn("score", col("ctf").cast(DoubleType)
        * (col("n_clusters").cast(DoubleType) / col("cdf").cast(DoubleType)))
    val w = Window.partitionBy(col("cluster")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .join(broadcast(sizes), "cluster")
      .select(col("cluster"), col("n_members"), col("rn"), col("tok"),
        col("ctf"), col("cdf"), col("score"))
      .orderBy(col("cluster"), col("rn"))
  }

  /** CLUSTER EXEMPLARS (q135): the most CENTRAL member of every q97
    * community by q131 PageRank — the representative-document selection a
    * diverse-coreset builder runs (one exemplar per semantic neighborhood
    * instead of k-per-corpus top-k, which collapses onto the densest
    * region). Ties break to the smaller vec_id. Composes two audited,
    * memoized artifacts — the community map and the centrality vector —
    * with one per-cluster window over the (tiny) joined map. */
  def clusterExemplars(s: SparkSession, dir: String): DataFrame = {
    val cl = knnClusters(s, dir)
    val pr = knnPagerank(s, dir)
    val w = Window.partitionBy(col("cluster")).orderBy(col("score").desc, col("vec_id"))
    cl.join(pr, "vec_id")
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("vec_id").as("exemplar_id"), col("score"))
      .orderBy(col("cluster"))
  }

  /** PageRank damping / base and fixed iteration count for q131. */
  val PrDamp = 0.85
  val PrBase = 0.15
  val PrIters = 3

  /** Graph CENTRALITY over the kNN graph (q131): [[PrIters]] fixed
    * PageRank iterations on the directed q93 edge list — the
    * data-selection signal the clustering (q97) and outlier (q108) views
    * don't give: which documents sit at the CENTER of the corpus'
    * similarity structure (high in-link mass from other docs' top-k
    * lists) versus its periphery. Used in production to bias sampling
    * toward prototypical documents or, inverted, toward diverse tails.
    * Dangling mass is dropped (nodes with no out-edges contribute
    * nothing) — the standard simplification, mirrored by the oracle.
    *
    * Determinism: per-node in-sums use the floor-quantized
    * DECIMAL(38,0) discipline (order-independent); the recurrence
    * base + damp * sum is the same two IEEE ops in both engines (the
    * constants interpolate as `0.15e0` e-notation so neither parser
    * types them DECIMAL). Scale shape: scores are one row per node;
    * each iteration is one shuffle of the n×k edge list on dst with
    * map-side partial aggregation; `localCheckpoint` truncates lineage
    * between rounds (the k-means/components discipline). At 100 TB the
    * edge list is k× the corpus row count — metadata next to the text —
    * and iterations are a fixed small budget. */
  def knnPagerank(s: SparkSession, dir: String): DataFrame =
    // memoized: the score vector is n rows behind PrIters driver-loop
    // rounds, and both q131 and the q135 exemplar pick consume it
    graft.ops.Memo.getOrCache(pagerankCache, s, dir, _ =>
      knnPagerankLoop(s, dir))

  private val pagerankCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def knnPagerankLoop(s: SparkSession, dir: String): DataFrame = {
    val edges = knnGraphRaw(s, dir).select(col("src"), col("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = Tables(s, dir, "embeddings").select(col("vec_id"))
    var scores = nodes.withColumn("score", lit(1.0)).localCheckpoint()
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(outdeg, "src")
        .join(scores.select(col("vec_id").as("src"), col("score")), "src")
        .select(col("dst").as("vec_id"), (col("score") / col("outdeg")).as("c"))
      val summed = contrib.groupBy(col("vec_id"))
        .agg(expr("CAST(SUM(CAST(FLOOR(c * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12")
          .as("in_sum"))
      scores = graft.ops.Memo.roll(scores,
        nodes.join(summed, Seq("vec_id"), "left")
          .select(col("vec_id"),
            (lit(PrBase) + lit(PrDamp) * coalesce(col("in_sum"), lit(0.0))).as("score"))
          .localCheckpoint())
    }
    // the returned checkpoint is the memoized artifact; the loop's working
    // blocks (outdeg, last round) are freed here — roll freed the rest
    val out = scores.orderBy(col("vec_id")).localCheckpoint()
    graft.ops.Memo.unpersistAll(outdeg)
    graft.ops.Memo.unpersistAll(scores)
    out
  }

  /** Graph CLUSTERING over the kNN graph — communities from MUTUAL kNN
    * edges (a lists b AND b lists a: the standard symmetrization that
    * separates genuine neighborhoods from one-sided hub attraction), then
    * the shared min-label propagation. The unsupervised corpus-structure
    * view that k-means can't give (no k to pick, clusters of any shape),
    * built entirely from the q93 graph.
    *
    * Scale shape: the mutual filter is a self-equi-join of the n×k edge
    * list on (src, dst) — edge-keyed, never touches embeddings; label
    * propagation runs on the mutual-edge graph only (metadata-scale, the
    * q46/q58 discipline). */
  def knnClusters(s: SparkSession, dir: String): DataFrame =
    // memoized checkpointed view: q97's gate plus THREE compositions
    // (cards' term counts, cards' sizes, exemplars) read the community
    // map — without the memo each consumer re-ran label propagation
    graft.ops.Memo.getOrCache(knnClustersCache, s, dir, _ =>
      knnClustersPlan(s, dir).localCheckpoint())

  private val knnClustersCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def knnClustersPlan(s: SparkSession, dir: String): DataFrame = {
    val e = knnGraphRaw(s, dir).select(col("src"), col("dst"))
    val mutual = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
    DedupOpsImpl.connectedComponents(mutual)
      .select(col("id").as("vec_id"), col("comp").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q166: TRIANGLE counting + local clustering coefficients over the
    * mutual kNN graph — the transitivity read on the corpus's neighborhood
    * structure (high clustering = tight semantic communities; low = hub
    * noise), and the standard next graph metric after degree/PageRank.
    *
    * Triangles enumerate once each via the ordered-wedge join: edges are
    * (a < b) pairs, wedges chain e1(a,b) ⋈ e2(b,c) so a < b < c, and the
    * closing edge (a, c) is a hash-join membership probe. On a kNN graph
    * the wedge count per center is ≤ degree² ≤ (2k)² — the join never
    * explodes past edges × k, and the mutual edge list itself is n × k
    * bounded. Everything downstream is per-node aggregates; coefficients
    * are single integer→double divisions. */
  def knnTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = knnGraphRaw(s, dir).select(col("src"), col("dst"))
    val mutual = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val tri = mutual.as("e1")
      .join(mutual.as("e2"), col("e1.b") === col("e2.a"))
      .join(mutual.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("triangles"))
    val deg = mutual.select(col("a").as("vec_id"))
      .union(mutual.select(col("b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("vec_id"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("clustering", when(col("degree") >= 2L,
        (col("triangles") * lit(2L)).cast(DoubleType) /
          (col("degree") * (col("degree") - lit(1L))).cast(DoubleType)))
      .select(col("vec_id"), col("degree"), col("triangles"), col("clustering"))
      .orderBy(col("vec_id"))
  }

  /** GRAPH-expansion ANN search over the kNN graph — the query path that
    * completes build (q93) / cluster (q97) / search: start from the
    * query's own graph out-neighbors, expand [[GraphSearchHops]] hops along
    * out-edges (neighbors-of-neighbors — the NN-descent insight that a
    * neighbor's neighbor is likely a neighbor), exact-rank the expanded
    * candidate set. The graph walk recovers neighbors the query's own LSH
    * buckets missed, which is exactly how graph-based indexes beat
    * bucket-only recall; the q77 panel measures it against ground truth.
    *
    * Scale shape: candidates per query ≤ k + k² (12 here) — the expansion
    * is |queries|-scale joins against the MEMOIZED cached edge list, the
    * exact re-rank touches only candidates (broadcast by construction),
    * and the corpus is never scanned at query time at all. */
  val GraphSearchHops = 2

  def graphSearch(s: SparkSession, dir: String): DataFrame =
    memoPath(s, dir, "graph_search")(graphSearchPlan(s, dir))

  private[graft] def graphSearchPlan(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphRaw(s, dir).select(col("src"), col("dst"))
    var frontier = g.filter(col("src") < 8)
      .select(col("src").as("query_id"), col("dst").as("cand"))
    var cands = frontier
    (2 to GraphSearchHops).foreach { _ =>
      // the frontier is |queries| × k^hop rows — always the broadcast side;
      // the edge list is corpus-sized (n × k) and must never sort-merge
      frontier = broadcast(frontier)
        .join(g.select(col("src").as("cand"), col("dst").as("nxt")), "cand")
        .select(col("query_id"), col("nxt").as("cand"))
      cands = cands.union(frontier)
    }
    val expanded = broadcast(
      cands.filter(col("cand") =!= col("query_id")).distinct())
    val e = Tables(s, dir, "embeddings")
    val scored = expanded
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      .join(e.select(col("vec_id").as("cand"), col("embedding").as("ce")), "cand")
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("cand").as("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** k-th-NN distance outlier scoring (Ramaswamy et al., SIGMOD 2000):
    * each vector's score is the cosine of its LAST kNN-graph neighbor
    * (rank k, or the highest rank available) — a low rank-k cosine means a
    * sparse neighborhood, i.e. out-of-distribution data. Vectors the
    * banded LSH produced NO candidates for are the extreme case and are
    * reported with n_neighbors = 0 and a null score. This is the
    * data-pruning signal used to drop OOD junk before training.
    *
    * Scale shape: one max_by aggregation over the MEMOIZED kNN edge list
    * (n × k rows, shared with q93/q97/q99) plus an id anti-join against
    * edge sources; embeddings are touched only to enumerate ids — no
    * distance is recomputed. */
  def knnOutliers(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphRaw(s, dir)
    val kth = g.groupBy(col("src").as("vec_id")).agg(
      max(col("rn")).as("n_neighbors"),
      max_by(col("cosine"), col("rn")).as("kth_cosine"))
    val isolated = Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(g.select(col("src").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(0L).as("n_neighbors"),
        lit(null).cast(DoubleType).as("kth_cosine"))
    kth.union(isolated).orderBy(col("vec_id"))
  }

  /** SEMANTIC keep-best canonicalization — the cross-modal composition of
    * q58 and q67: cluster by EMBEDDING near-duplicates (sign-LSH banded
    * candidates → exact cosine → connected components), then keep the
    * highest-QUALITY document of each cluster (vec_id ≡ doc_id links the
    * two tables). This is semantic dedup as production runs it: paraphrased
    * near-copies that shingle-MinHash misses collapse onto one canonical
    * doc, chosen by a text-side signal the embedding can't see.
    *
    * Scale shape: every stage is the already-audited one — capped LSH
    * buckets generate candidates (never all-pairs), components run on the
    * metadata-scale pair graph only, the component map broadcasts against
    * one quality scan, and the keep-best window partitions by component
    * (bounded by cluster size). */
  def semanticKeepBest(s: SparkSession, dir: String): DataFrame = {
    val comps = embedNearDupComponents(s, dir)
      .select(col("vec_id").as("doc_id"), col("component"))
    val quality = TextOpsImpl.qualityScore(s, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("component")).orderBy(col("quality").desc, col("doc_id"))
    broadcast(comps).join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("component"), col("quality"),
        (col("rn") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** HYBRID retrieval with reciprocal-rank fusion — the lexical+dense
    * two-tower shape every production search stack runs: a sparse TF-IDF
    * inverted-index ranking and the dense cosine ranking each produce a
    * top-[[HybridShortlist]] shortlist per query, fused by
    * RRF = Σ 1/([[RrfK]] + rank) (rank fusion needs no score calibration
    * between the two signals — the reason RRF is the default fusion).
    * Queries are documents 0..7 (their text for the sparse side, their
    * embedding for the dense side).
    *
    * Scale shape: the sparse side IS the inverted index as a join — query
    * terms broadcast, corpus term-frequency rows equi-join on the token
    * key, per-(query, doc) partial-aggregated dot product (floor-quantized
    * DECIMAL accumulation: a double SUM over shared terms would vary with
    * partitioning); the dense side is q51's broadcast scan; fusion is a
    * full-outer join of two queries × shortlist frames — metadata-sized by
    * construction (Spark plans full outer as sort-merge only; at this size
    * that is free). */
  val HybridShortlist = 10
  val RrfK = 60

  /** The tf·idf lexical shortlist stage — shared by q90 (fusion) and q119
    * (hard-negative mining): query = a query doc's own weighted terms,
    * score = Σ qw·w over shared tokens, top-[[HybridShortlist]] per query.
    *
    * Scale: tokens outside the QUERY vocabulary can never score (the probe
    * joins on `tok`, so a non-shared token contributes nothing), so a
    * broadcast semi-join on the 8 query docs' distinct tokens is pushed
    * BELOW both corpus groupBys — only query-vocab occurrences ever reach
    * the tf aggregation, and the per-token document frequencies of the
    * kept tokens are exact (every (doc, tok) row of a kept token is kept).
    * On a real corpus the query vocabulary is a vanishing fraction of the
    * corpus vocabulary, so this is the difference between shuffling the
    * query-relevant slice and shuffling every token; the SYNTHETIC test
    * corpus has a ~31-token vocabulary (the 8 query docs cover 99.9% of
    * occurrences), so there the measured win comes from the memo below,
    * not the pushdown — both are kept because they fix different scales.
    * Query terms then broadcast into the tf·idf probe; the corpus never
    * reshuffles for the query batch.
    *
    * Memoized (localCheckpoint — queries × shortlist rows): q90 and q119
    * each consume it (they were the round-12 sweep's two worst absolute
    * growers, 6.9 s + 6.7 s at sf1, each rebuilding this stage), and
    * `index:text_lex_shortlist` warms it so both gates measure marginal
    * cost, the same attribution rule as the ANN panel. */
  private[graft] def lexShortlist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.getOrCache(lexShortlistCache, s, dir, { _ =>
      lexShortlistPlan(s, dir).localCheckpoint()
    })

  /** The UNCHECKPOINTED shortlist build — the plan PlanSpec locks (the
    * memoized view is a LogicalRDD leaf, opaque to plan assertions), same
    * split as [[cosineTopKPlan]]. */
  private[graft] def lexShortlistPlan(s: SparkSession, dir: String): DataFrame = {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val qvocab = toks.filter(col("doc_id") < 8).select(col("tok")).distinct()
      val tf = toks.join(broadcast(qvocab), Seq("tok"), "left_semi")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val tfidf = tf.join(dfreq, "tok").crossJoin(broadcast(total))
        .withColumn("w", col("tf").cast(DoubleType)
          * (col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
        .select(col("doc_id"), col("tok"), col("w"))
      val qterms = tfidf.filter(col("doc_id") < 8)
        .select(col("doc_id").as("query_id"), col("tok"), col("w").as("qw"))
      val lex = broadcast(qterms).join(tfidf, "tok")
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("p", col("qw") * col("w"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(expr("CAST(SUM(CAST(FLOOR(p * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12")
          .as("lex"))
      val wl = Window.partitionBy(col("query_id")).orderBy(col("lex").desc, col("doc_id"))
      lex.withColumn("lrn", row_number().over(wl).cast(LongType))
        .filter(col("lrn") <= HybridShortlist)
        .select(col("query_id"), col("doc_id"), col("lrn"))
  }

  private val lexShortlistCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Hard-negative mining for retriever training (q119): documents the
    * LEXICAL retriever ranks highly that the dense ground truth says are
    * NOT relevant — exactly the negatives contrastive training wants
    * (random negatives are too easy; lexically-confusable ones teach the
    * boundary). negatives = the lexical shortlist minus the exact dense top-3, ranked
    * hardest-first by lexical rank.
    *
    * Scale shape: the lexical stage is q90's audited broadcast probe; the
    * positive set is queries × 3 rows and broadcasts into the anti-join,
    * so mining cost is the shortlist stage's cost. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val pos = cosineTopK(s, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    val negs = lexShortlist(s, dir)
      .join(broadcast(pos), Seq("query_id", "doc_id"), "left_anti")
    val w = Window.partitionBy(col("query_id")).orderBy(col("lrn"))
    negs.withColumn("rn", row_number().over(w).cast(LongType))
      .select(col("query_id"), col("rn"), col("doc_id"), col("lrn").as("lex_rank"))
      .orderBy(col("query_id"), col("rn"))
  }

  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lexTop = lexShortlist(s, dir)
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("doc_id"), col("embedding").as("ce"))
    val dense = broadcast(q).join(c, col("doc_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
      .select(col("query_id"), col("doc_id"), col("cosine"))
    val wd = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))
    val denseTop = dense.withColumn("drn", row_number().over(wd).cast(LongType))
      .filter(col("drn") <= HybridShortlist)
      .select(col("query_id"), col("doc_id"), col("drn"))
    // full outer cannot broadcast in Spark (SMJ only) — fine: both sides
    // are queries × shortlist rows, so the sort-merge is metadata-sized
    val fused = lexTop.join(denseTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("lrn")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("drn")), lit(0.0)))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(wf).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("doc_id"), col("rrf"),
        col("lrn").as("lex_rank"), col("drn").as("dense_rank"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Recall@3 of every approximate ANN path against the exact brute-force
    * ground truth (q51's top-3) — the measurement a user tuning
    * nprobe/shortlist/band geometry actually needs: each knob trades
    * corpus-touched bytes for recall, and without this gate the trade is
    * invisible (every approximate path reproduces its own DEFINITION
    * bitwise, which says nothing about how close it is to the truth).
    *
    * One row per path: (path, k, matched, n_exact, recall). Scale shape:
    * each path's plan is the already-audited one (shared memoized index
    * views); the union ships only path-tagged (query, neighbor) id pairs —
    * queries × k rows per path — and the ground-truth join is against a
    * broadcast-sized exact top-k. */
  /** Every approximate ANN path, tagged — the measurement panel shared by
    * q77 (recall) and q113 (rank metrics). */
  private def annPaths(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = Seq(
    "adc_rerank" -> (() => pqAdcRerank(s, dir)),
    "graph_search" -> (() => graphSearch(s, dir)),
    "ivf" -> (() => ivfTopK(s, dir)),
    "ivf_multiprobe" -> (() => ivfMultiProbeTopK(s, dir)),
    "ivfpq" -> (() => ivfPqTopK(s, dir)),
    "jl_rerank" -> (() => jlRerank(s, dir)),
    "kmeans_ivf" -> (() => kmeansIvfTopK(s, dir)),
    "kmeans_ivfpq" -> (() => kmeansIvfPqTopK(s, dir)),
    "pq_adc" -> (() => pqAdcTopK(s, dir)),
    "rivfpq" -> (() => residualIvfPqTopK(s, dir)))

  /** The tagged (path, query_id, rn, neighbor_id) union of every
    * approximate path's top-3 — memoized CACHED view shared by q77 and
    * q113: the panel is queries × 3 × 9 rows (tiny) but its generator runs
    * all nine probe plans, and without the memo BOTH measurement queries
    * re-ran the full panel (r4 bench: q77 32 s + q113 36 s; one
    * materialization serves both). */
  private[graft] def annPanel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Memo.getOrCache(annPanelCache, s, dir, { _ =>
      // localCheckpoint PER PATH, not .cache() on the union: a cached union
      // keeps the ten probe plans as lineage, and every consumer would
      // re-analyze that composite tree. Checkpointing each path's
      // (queries×3)-row result truncates lineage, so the panel's consumers
      // analyze a ten-way union of tiny LogicalRDDs instead.
      //
      // Where the time went (perfbench curation seed 1, each path run
      // alone, 4 cores): not the probes but driver-side planning and
      // Janino codegen of literal-unrolled vector math. jl_rerank took
      // 5.9 s for 500 vectors (a 16 × 64-term JL sketch on both sides of
      // its self-join), ivf_multiprobe 3.1 s (a k × 64-term array_sort).
      // The JL sketch, the ADC distances, the multi-probe ranking and the
      // residuals are now native graft.expr kernels: 0.8 s and 0.5 s, and
      // no path plans more than ~430 expression nodes (PlanSpec guards
      // it; 5,300-19,600 before).
      //
      // Paths materialize CONCURRENTLY: each probe is a few-partition job
      // (queries × k output) that cannot fill the cluster alone, and the
      // driver-side planning overlaps safely across threads. Submitting
      // all ten from a driver pool makes the panel cost ~max(path) instead
      // of sum(path).
      // Shared upstream memos (kmeans/PQ models) are ConcurrentHashMap
      // computeIfAbsent-guarded, so a model builds once and late arrivals
      // block on it. The union keeps the deterministic Seq order — futures
      // are awaited in declaration order.
      graft.ops.Par.map(annPaths(s, dir)) { case (p, mk) =>
        mk().select(lit(p).as("path"), col("query_id"), col("rn"), col("neighbor_id"))
          .localCheckpoint()
      }.reduce(_ union _)
    })

  private val annPanelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopK(s, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annPanel(s, dir).select(col("path"), col("query_id"), col("neighbor_id"))
    val hits = approx
      .join(broadcast(exact.withColumn("hit", lit(1L))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("path"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("matched"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(broadcast(tot))
      .select(col("path"), lit(3L).as("k"), col("matched"), col("n_exact"),
        (col("matched").cast(DoubleType) / col("n_exact")).as("recall"))
      .orderBy(col("path"))
  }

  /** 1/log2(r+1) position discounts for r=1..3, baked as literals; the
    * ideal DCG is their left-associated sum (a constant — every query has
    * a full exact top-3). Computed ONCE in Scala and interpolated into
    * BOTH engines' SQL as `<digits>e0` (e-notation parses as DOUBLE in
    * Spark and DuckDB alike, sidestepping both parsers' decimal-literal
    * typing), so no engine ever evaluates a logarithm — ln() is
    * libm-dependent and would break bitwise parity. */
  private[graft] val NdcgDisc: Seq[Double] =
    (1 to 3).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
  private[graft] val NdcgIdcg: Double = NdcgDisc.foldLeft(0.0)(_ + _)
  private[graft] def ndcgGainSql(rel: String, rn: String): String =
    s"CAST($rel AS DOUBLE) * (CASE WHEN $rn = 1 THEN ${NdcgDisc(0)}e0" +
      s" WHEN $rn = 2 THEN ${NdcgDisc(1)}e0" +
      s" WHEN $rn = 3 THEN ${NdcgDisc(2)}e0 ELSE 0e0 END)"

  /** Rank-sensitive retrieval metrics per ANN path (q113): NDCG@3 and
    * reciprocal rank per (path, query) against the exact top-3 ground
    * truth. The position-aware complement of q77's recall panel — recall
    * says how many true neighbors a path returns, this says WHERE it puts
    * them (a path that returns the true best at rank 3 and junk at rank 1
    * has perfect recall and poor NDCG/MRR).
    *
    * Determinism: relevance is binary id-set membership; gains multiply by
    * baked discount literals (see [[NdcgDisc]]); per-(path,query) DCG uses
    * the floor-quantized DECIMAL(38,0) sum; NDCG divides by the constant
    * ideal DCG and RR is one double division — every step bitwise
    * portable. Scale shape: inherits each path's audited plan; the union
    * ships only (path, query, rank, neighbor) ids and the ground-truth
    * join broadcasts queries×3 rows, so measurement cost is the paths'
    * own probe cost, never a corpus rescan. */
  def rankMetrics(s: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopK(s, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annPanel(s, dir)
    val graded = approx
      .join(broadcast(exact.withColumn("hit", lit(1L))),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(col("hit"), lit(0L)))
      .withColumn("gg", expr(ndcgGainSql("rel", "rn")))
    graded.groupBy(col("path"), col("query_id"))
      .agg(
        expr("CAST(SUM(CAST(FLOOR(gg * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12")
          .as("dcg"),
        min(when(col("rel") === 1L, col("rn"))).as("first_hit"))
      .select(col("path"), col("query_id"), col("dcg"),
        expr(s"dcg / ${NdcgIdcg}e0").as("ndcg"),
        coalesce(lit(1.0) / col("first_hit").cast(DoubleType), lit(0.0)).as("rr"))
      .orderBy(col("path"), col("query_id"))
  }

  /** Clustering QUALITY diagnostics over the learned codebook — per final
    * k-means center: population, inertia (Σ dist² to the assigned center),
    * and mean dist². The report a user tuning k / iteration count actually
    * reads (inertia elbow, empty or skewed clusters) — the clustering-side
    * sibling of the q77 recall panel: q74 proves the codebook reproduces,
    * this measures whether it is any GOOD.
    *
    * Determinism: each dist² is the same left-associated 64-term IEEE sum
    * as the assignment argmin; per-cluster inertia accumulates with the
    * floor-quantized DECIMAL(38,0) discipline (order-independent — a plain
    * double SUM varies with partitioning); the mean is one double division.
    * Scale shape: one narrow codegen'd argmin pass (q75's compiled shape,
    * also emitting the winning distance) reduced by a k-row hash aggregate
    * with map-side combine — the corpus never shuffles. */
  def kmeansQuality(s: SparkSession, dir: String): DataFrame = {
    val cents = kmeansHistory(s, dir)(KmeansIters).map { case (cid, cv, _) => (cid, cv) }
    Tables(s, dir, "embeddings")
      .select(NearestF64.nearest(col("embedding"), cents).as("m"))
      .select(col("m.l").as("center_id"), col("m.d").as("d"))
      .groupBy(col("center_id"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(FLOOR(d * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12")
          .as("inertia"))
      .select(col("center_id"), col("n"), col("inertia"),
        (col("inertia") / col("n")).as("mean_dist2"))
      .orderBy(col("center_id"))
  }

  /** MMR-DIVERSIFIED retrieval (maximal marginal relevance): from each
    * query's exact top-[[MmrShortlist]] shortlist, greedily pick 3 results
    * maximizing λ·rel(q,d) − (1−λ)·max sim(d, picked) — the standard
    * redundancy-suppression re-rank (RAG context assembly, dedup-aware
    * search). The greedy loop is unrolled to a fixed 3 picks, which is what
    * makes it expressible as one declarative plan in BOTH engines (pick 1 =
    * pure relevance, with max-sim over the empty set ≡ 0).
    *
    * Scale shape: stage 1 is the q51 shortlist (slim (query, neighbor,
    * rel) rows through the top-k window — embeddings never cross that
    * shuffle; at deployment scale the indexed paths produce the same
    * shortlist cheaper). Stage 2 is O(queries × shortlist²) on
    * metadata-sized frames: shortlist vectors re-join against the corpus
    * scan by id, pairwise sims and the two greedy steps are
    * broadcast-joined k-row frames. */
  val MmrLambda = 0.7
  val MmrComp = 0.3 // 1 − λ as its own literal: 1.0 − 0.7 ≠ 0.3 in binary
  val MmrShortlist = 8

  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val rel = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("rel",
        expr(s"(${sparkDot("qe", "ce")}) / (sqrt(${sparkDot("qe", "qe")}) * sqrt(${sparkDot("ce", "ce")}))"))
      .select(col("query_id"), col("neighbor_id"), col("rel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("neighbor_id"))
    val short = rel.withColumn("srn", row_number().over(w))
      .filter(col("srn") <= MmrShortlist)
    // shortlist vectors: ≤ queries × shortlist ids re-join the corpus scan
    val withE = broadcast(short.select(col("query_id"), col("neighbor_id"), col("srn")))
      .join(c, "neighbor_id")
    // every greedy-stage frame is queries × shortlist rows at most — Catalyst
    // cannot estimate post-window sizes, so hint the broadcasts explicitly
    // (unhinted, all five lookups planned as sort-merge joins)
    val sims = withE.select(col("query_id"), col("neighbor_id").as("a_id"), col("ce").as("ae"))
      .join(broadcast(withE.select(col("query_id"), col("neighbor_id").as("b_id"), col("ce").as("be"))),
        "query_id")
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim",
        expr(s"(${sparkDot("ae", "be")}) / (sqrt(${sparkDot("ae", "ae")}) * sqrt(${sparkDot("be", "be")}))"))
      .select(col("query_id"), col("a_id"), col("b_id"), col("sim"))
    val p1 = short.filter(col("srn") === 1)
      .select(col("query_id"), col("neighbor_id").as("p1_id"),
        (lit(MmrLambda) * col("rel")).as("p1_mmr"))
    val s1 = sims.select(col("query_id"), col("a_id").as("neighbor_id"),
      col("b_id").as("p1_id"), col("sim").as("sim1"))
    val wm = Window.partitionBy(col("query_id")).orderBy(col("mmr").desc, col("neighbor_id"))
    val c2 = short.join(broadcast(p1.select(col("query_id"), col("p1_id"))), "query_id")
      .filter(col("neighbor_id") =!= col("p1_id"))
      .join(broadcast(s1), Seq("query_id", "neighbor_id", "p1_id"))
      .withColumn("mmr", lit(MmrLambda) * col("rel") - lit(MmrComp) * col("sim1"))
    val p2 = c2.withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("p2_id"), col("mmr").as("p2_mmr"))
    val s2 = sims.select(col("query_id"), col("a_id").as("neighbor_id"),
      col("b_id").as("p2_id"), col("sim").as("sim2"))
    val c3 = short.join(broadcast(p1.select(col("query_id"), col("p1_id"))), "query_id")
      .join(broadcast(p2.select(col("query_id"), col("p2_id"))), "query_id")
      .filter(col("neighbor_id") =!= col("p1_id") && col("neighbor_id") =!= col("p2_id"))
      .join(broadcast(s1), Seq("query_id", "neighbor_id", "p1_id"))
      .join(broadcast(s2), Seq("query_id", "neighbor_id", "p2_id"))
      .withColumn("mmr",
        lit(MmrLambda) * col("rel") - lit(MmrComp) * greatest(col("sim1"), col("sim2")))
    val p3 = c3.withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("p3_id"), col("mmr").as("p3_mmr"))
    p1.select(col("query_id"), lit(1L).as("pick"),
        col("p1_id").as("neighbor_id"), col("p1_mmr").as("mmr"))
      .union(p2.select(col("query_id"), lit(2L), col("p2_id"), col("p2_mmr")))
      .union(p3.select(col("query_id"), lit(3L), col("p3_id"), col("p3_mmr")))
      .orderBy(col("query_id"), col("pick"))
  }

  /** Cosine RADIUS search (range query): every corpus vector within
    * cosine ≥ [[RadiusCos]] of each query — the "all matches above a
    * similarity floor" API (duplicate sweeps, policy screens) that top-k
    * cannot express when the true match count per query is unknown.
    *
    * Scale shape: identical to q51's stage 1 — queries broadcast, the
    * corpus streams ONCE through a narrow codegen'd cosine + filter; no
    * window at all (radius needs no rank), so output flows straight to the
    * sink. The indexed variants (IVF probe, LSH buckets) bolt onto the
    * same predicate when n × queries grows too large. */
  val RadiusCos = 0.25

  def radiusSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    // norms are PER-SIDE, so they precompute in each side's narrow
    // projection rather than per-pair inside the join condition. That is
    // both algorithmically right (n + q norms, not n × q) and what keeps
    // the fused condition inside codegen: with the full 192-term cosine
    // pushed into the BroadcastNestedLoopJoin condition, the generated
    // bnlj_doConsume method exceeded Janino's 64 KB limit and the whole
    // stage silently fell back to interpreted eval. sqrt is correctly
    // rounded, so dot/(qn*cn) is bit-identical to the unfactored form the
    // oracle computes.
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", expr(s"sqrt(${sparkDot("qe", "qe")})"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .withColumn("cn", expr(s"sqrt(${sparkDot("ce", "ce")})"))
    broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", expr(s"(${sparkDot("qe", "ce")}) / (qn * cn)"))
      .filter(col("cosine") >= RadiusCos)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** SEMANTIC decontamination — the embedding-level complement of the
    * shingle-based q47: flag training vectors whose max cosine against any
    * holdout vector exceeds the threshold (paraphrased benchmark leakage
    * that exact n-gram overlap misses). Emits each contaminated vector
    * with its nearest holdout and similarity.
    *
    * Scale shape: the holdout (benchmark-sized in production) broadcasts;
    * the corpus streams ONCE through a narrow cosine fan-out whose
    * per-vec_id max is reduced by partial aggregation — the shuffle is n
    * rows, never n × |holdout|. The max carries (cosine, −holdout_id) as a
    * struct so ties break to the smaller holdout id deterministically in
    * both engines (lexicographic struct order). */
  val ContaminationCos = 0.3

  def embedContamination(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val hold = e.filter(pmod(col("vec_id"), lit(50L)) === 0L)
      .select(col("vec_id").as("h_id"), col("embedding").as("he"))
    val sims = e.filter(pmod(col("vec_id"), lit(50L)) =!= 0L)
      .select(col("vec_id"), col("embedding").as("te"))
      .crossJoin(broadcast(hold))
      .withColumn("cosine",
        expr(s"(${sparkDot("te", "he")}) / (sqrt(${sparkDot("te", "te")}) * sqrt(${sparkDot("he", "he")}))"))
    sims.groupBy(col("vec_id"))
      .agg(max(struct(col("cosine").as("c"), (-col("h_id")).as("nh"))).as("m"))
      .select(col("vec_id"),
        (-col("m.nh")).as("nearest_holdout"),
        col("m.c").as("max_cosine"))
      .filter(col("max_cosine") > ContaminationCos)
      .orderBy(col("vec_id"))
  }

  /** The V1 embedding operator under the correctness gate: `embed(text,
    * dims)` over documents via the SQL-registered UDF (the deliberately
    * pluggable provider shape — production swaps a model client behind the
    * same Embedder trait, so a UDF IS the right altitude here, unlike
    * hot-path scalar math). The deterministic HashEmbedder's components are
    * (byte0(md5("i:text")) − 128)/128 — exactly representable in both float
    * and double, so the DuckDB mirror matches bitwise. */
  def embedUdf(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.install(s)
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr("embed(text, 4)").as("e"))
      .select(col("doc_id") +:
        (0 until 4).map(i => expr(s"CAST(element_at(e, ${i + 1}) AS DOUBLE)").as(s"e$i")): _*)
      .orderBy(col("doc_id"))
  }
}

object VectorOps {
  import VectorOpsImpl._

  def queries: Seq[Q] = Seq(
    Q("q50_embed_norm", norms, Some(
      s"""SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  sqrt(${duckDot("embedding", "embedding")}) AS norm,
         |  CAST(embedding[1] AS DOUBLE) AS c0
         |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("q51_embed_cosine_topk", cosineTopK, Some(q51Sql), headline = true),

    Q("q52_embed_centroids", centroids, Some {
      val dims = (1 to 4).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      s"""SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n, $dims
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
    }),

    Q("q104_embed_drift", embedDrift, Some {
      def half(pred: String, tag: String) = {
        val dims = (1 to Dims).map(i =>
          s"${duckCentComp(i)} / COUNT(*) AS ${tag}_c$i").mkString(", ")
        s"SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_$tag, $dims " +
          s"FROM embeddings WHERE $pred GROUP BY label"
      }
      val drift2 = (1 to Dims).map(i =>
        s"(old_c$i - new_c$i) * (old_c$i - new_c$i)").mkString(" + ")
      s"""WITH o AS (${half("vec_id % 2 = 0", "old")}),
         |n AS (${half("vec_id % 2 = 1", "new")})
         |SELECT label, n_old, n_new, ($drift2) AS drift2, sqrt($drift2) AS drift
         |FROM o JOIN n USING (label) ORDER BY label""".stripMargin
    }),

    Q("q53_embed_ivf_assign", ivfAssign, Some {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      val dist = (1 to Dims).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (
         |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, c.clabel, ($dist) AS dist2
         |  FROM embeddings e, c),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
         |  FROM d)
         |SELECT vec_id, label, clabel AS assigned, clabel = label AS correct
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
    }, headline = true),

    Q("q55_embed_ivf_topk", ivfTopK, Some(q55Sql), headline = true),

    Q("q57_embed_quantize", quantizeInt8, Some {
      def code(i: Int) =
        s"CAST(least(greatest(floor((CAST(embedding[$i] AS DOUBLE) - mn$i) / (mx$i - mn$i) * 255.0), 0.0), 255.0) AS BIGINT)"
      s"""WITH st AS (
         |  SELECT MIN(CAST(embedding[1] AS DOUBLE)) AS mn1, MAX(CAST(embedding[1] AS DOUBLE)) AS mx1,
         |    MIN(CAST(embedding[2] AS DOUBLE)) AS mn2, MAX(CAST(embedding[2] AS DOUBLE)) AS mx2,
         |    MIN(CAST(embedding[3] AS DOUBLE)) AS mn3, MAX(CAST(embedding[3] AS DOUBLE)) AS mx3,
         |    MIN(CAST(embedding[4] AS DOUBLE)) AS mn4, MAX(CAST(embedding[4] AS DOUBLE)) AS mx4
         |  FROM embeddings)
         |SELECT vec_id, ${code(1)} AS q1, ${code(2)} AS q2, ${code(3)} AS q3, ${code(4)} AS q4,
         |  abs(CAST(embedding[1] AS DOUBLE)
         |    - (CAST(${code(1)} AS DOUBLE) / 255.0 * (mx1 - mn1) + mn1)) AS recon_err1
         |FROM embeddings, st ORDER BY vec_id""".stripMargin
    }),

    Q("q54_embed_lsh_sig", lshBuckets, Some(
      s"""SELECT vec_id,
         |  CAST(${lshSignature(i => s"CAST(embedding[$i] AS DOUBLE)")} AS BIGINT) AS sig
         |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("q56_embed_near_dup", (s, d) => cosineNearDupPairs(s, d), Some(nearDupPairsSql)),

    Q("q70_embed_jl_rerank", (s, d) => jlRerank(s, d), Some(q70Sql)),

    Q("q69_embed_jl_project", jlProject, Some {
      val projs = (0 until 4).map { j =>
        val sum = (1 to Dims)
          .map(i => s"${hyperplanes(j)(i - 1)} * CAST(embedding[$i] AS DOUBLE)")
          .mkString(" + ")
        s"($sum) * 0.25 AS p$j"
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $projs
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }),

    Q("q65_embed_filtered_topk", filteredTopK, Some(
      s"""WITH c AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
         |  WHERE d.lang = 'en'),
         |p AS (
         |  SELECT a.vec_id AS query_id, b.neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a, c b
         |  WHERE a.vec_id < 8 AND b.neighbor_id <> a.vec_id),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM p)
         |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin)),

    Q("q64_embed_ivf_multiprobe", ivfMultiProbeTopK, Some(q64Sql)),

    Q("q158_embed_nprobe_sweep", ivfNprobeSweep, Some(q158Sql)),

    Q("q62_embed_pq", pqEncode, Some {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      def sub(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      val dcols = (0 until PqM).map(m => s"(${sub(m)}) AS d$m").mkString(",\n    ")
      val rns = (0 until PqM).map(m =>
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d$m, clabel) AS r$m").mkString(",\n    ")
      val codes = (0 until PqM).map(m =>
        s"MAX(CASE WHEN r$m = 1 THEN clabel END) AS code$m").mkString(",\n  ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (SELECT e.vec_id, c.clabel,
         |    $dcols
         |  FROM embeddings e, c),
         |r AS (SELECT *,
         |    $rns
         |  FROM d)
         |SELECT vec_id,
         |  $codes
         |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }),

    Q("q63_embed_pq_adc", pqAdcTopK, Some(q63Sql)),

    Q("q66_embed_adc_rerank", (s, d) => pqAdcRerank(s, d), Some(q66Sql)),

    Q("q68_embed_ivfpq", ivfPqTopK, Some(q68Sql)),

    Q("q59_embed_udf", embedUdf, Some {
      val comps = (0 until 4).map { i =>
        val h = s"md5('$i:' || text)"
        val byte = s"(strpos('0123456789abcdef', substr($h, 1, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr($h, 2, 1)) - 1)"
        s"CAST($byte - 128 AS DOUBLE) / CAST(128 AS DOUBLE) AS e$i"
      }.mkString(",\n  ")
      s"""SELECT doc_id,
         |  $comps
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    Q("q58_embed_components", embedNearDupComponents, Some(
      s"""WITH RECURSIVE jp AS MATERIALIZED (SELECT a_id, b_id FROM ($nearDupPairsSql) q56),
         |nodes AS MATERIALIZED (SELECT a_id AS id FROM jp UNION SELECT b_id FROM jp),
         |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM jp
         |          UNION ALL SELECT b_id, a_id FROM jp),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS vec_id, MIN(r) AS component FROM reach
         |GROUP BY id ORDER BY vec_id""".stripMargin)),

    Q("q74_embed_kmeans", kmeansCentroids, Some(
      s"""WITH $kmeansChainSql
         |SELECT cid AS center_id, n, c1, c2, c3, c4 FROM c$KmeansIters
         |ORDER BY center_id""".stripMargin)),

    Q("q75_embed_kmeans_assign", kmeansAssign, Some(
      s"""WITH $kmeansChainSql,
         |$kmeansFinalAssignSql
         |SELECT vec_id, assigned FROM af ORDER BY vec_id""".stripMargin)),

    Q("q109_embed_semdedup", semDedup, Some {
      import VectorOpsImpl.{SemDedupTau, Dims}
      val centDot = (1 to Dims).map(i =>
        s"CAST(e.embedding[$i] AS DOUBLE) * c.c$i").mkString(" + ")
      s"""WITH RECURSIVE $kmeansChainSql,
         |$kmeansFinalAssignSql,
         |pr AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM af a JOIN af b ON a.assigned = b.assigned AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE (${duckDot("ea.embedding", "eb.embedding")})
         |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
         |         * sqrt(${duckDot("eb.embedding", "eb.embedding")})) >= $SemDedupTau),
         |nodes AS MATERIALIZED (SELECT a_id AS id FROM pr UNION SELECT b_id FROM pr),
         |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pr
         |          UNION ALL SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cmp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id),
         |sc AS (
         |  SELECT e.vec_id, af.assigned AS cluster,
         |    ($centDot) / sqrt(${duckDot("e.embedding", "e.embedding")}) AS score
         |  FROM embeddings e
         |  JOIN af ON af.vec_id = e.vec_id
         |  JOIN c$KmeansIters c ON c.cid = af.assigned),
         |m AS (
         |  SELECT cmp.id AS vec_id, sc.cluster, cmp.group_id, sc.score
         |  FROM cmp JOIN sc ON sc.vec_id = cmp.id),
         |k AS (
         |  SELECT group_id, vec_id AS kept_id FROM (
         |    SELECT group_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY score, vec_id) AS rn
         |    FROM m) WHERE rn = 1)
         |SELECT m.vec_id, m.cluster, m.group_id, k.kept_id
         |FROM m JOIN k USING (group_id)
         |ORDER BY m.vec_id""".stripMargin
    }),

    Q("q77_embed_ann_recall", annRecall, Some {
      val branches = Seq(
        "adc_rerank" -> q66Sql,
        "graph_search" -> q99Sql,
        "ivf" -> q55Sql,
        "ivf_multiprobe" -> q64Sql,
        "ivfpq" -> q68Sql,
        "jl_rerank" -> q70Sql,
        "kmeans_ivf" -> q76Sql,
        "kmeans_ivfpq" -> q79Sql,
        "pq_adc" -> q63Sql,
        "rivfpq" -> q149Sql)
      val approx = branches.map { case (p, sql) =>
        s"SELECT '$p' AS path, query_id, neighbor_id FROM (\n$sql\n)"
      }.mkString("\n  UNION ALL\n")
      s"""WITH exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |$q51Sql
         |) WHERE rn <= 3),
         |approx AS (
         |$approx),
         |hits AS (
         |  SELECT a.path,
         |    CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched
         |  FROM approx a LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |  GROUP BY a.path),
         |tot AS (SELECT COUNT(*) AS n_exact FROM exact)
         |SELECT path, CAST(3 AS BIGINT) AS k, matched, n_exact,
         |  CAST(matched AS DOUBLE) / n_exact AS recall
         |FROM hits, tot ORDER BY path""".stripMargin
    }),

    Q("q113_embed_rank_metrics", rankMetrics, Some {
      val branches = Seq(
        "adc_rerank" -> q66Sql,
        "graph_search" -> q99Sql,
        "ivf" -> q55Sql,
        "ivf_multiprobe" -> q64Sql,
        "ivfpq" -> q68Sql,
        "jl_rerank" -> q70Sql,
        "kmeans_ivf" -> q76Sql,
        "kmeans_ivfpq" -> q79Sql,
        "pq_adc" -> q63Sql,
        "rivfpq" -> q149Sql)
      val approx = branches.map { case (p, sql) =>
        s"SELECT '$p' AS path, query_id, rn, neighbor_id FROM (\n$sql\n)"
      }.mkString("\n  UNION ALL\n")
      s"""WITH exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |$q51Sql
         |) WHERE rn <= 3),
         |approx AS (
         |$approx),
         |graded AS (
         |  SELECT a.path, a.query_id, a.rn,
         |    CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM approx a LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
         |g AS (SELECT path, query_id, rn, rel,
         |    ${ndcgGainSql("rel", "rn")} AS gg FROM graded),
         |agg AS (
         |  SELECT path, query_id,
         |    CAST(SUM(CAST(FLOOR(gg * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS dcg,
         |    MIN(CASE WHEN rel = 1 THEN rn END) AS first_hit
         |  FROM g GROUP BY path, query_id)
         |SELECT path, query_id, dcg, dcg / ${NdcgIdcg}e0 AS ndcg,
         |  COALESCE(1e0 / CAST(first_hit AS DOUBLE), 0e0) AS rr
         |FROM agg ORDER BY path, query_id""".stripMargin
    }),

    Q("q76_embed_kmeans_ivf", kmeansIvfTopK, Some(q76Sql)),

    Q("q78_embed_pq_kmeans", pqKmeansEncode, Some(pqKmeansSql)),

    Q("q81_embed_contamination", embedContamination, Some(
      s"""WITH t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
         |h AS (SELECT vec_id AS h_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |sims AS (
         |  SELECT t.vec_id, h.h_id,
         |    (${duckDot("t.embedding", "h.embedding")})
         |      / (sqrt(${duckDot("t.embedding", "t.embedding")})
         |         * sqrt(${duckDot("h.embedding", "h.embedding")})) AS cosine
         |  FROM t, h),
         |m AS (SELECT vec_id, MAX({'c': cosine, 'nh': -h_id}) AS m
         |  FROM sims GROUP BY vec_id)
         |SELECT vec_id, -(m.nh) AS nearest_holdout, m.c AS max_cosine
         |FROM m WHERE m.c > $ContaminationCos
         |ORDER BY vec_id""".stripMargin)),

    Q("q79_embed_kmeans_ivfpq", kmeansIvfPqTopK, Some(q79Sql)),

    Q("q148_embed_rpq_encode", residualPqEncode, Some(q148Sql)),

    Q("q149_embed_rivfpq", residualIvfPqTopK, Some(q149Sql), headline = true),

    Q("q83_embed_kmeans_quality", kmeansQuality, Some(
      s"""WITH $kmeansChainSql,
         |afd AS (
         |  SELECT e.vec_id,
         |    (MIN({'d': ($kmeansDistSql), 'cid': c.cid})).cid AS center_id,
         |    (MIN({'d': ($kmeansDistSql), 'cid': c.cid})).d AS d
         |  FROM embeddings e, c$KmeansIters c GROUP BY e.vec_id)
         |SELECT center_id, COUNT(*) AS n,
         |  CAST(SUM(CAST(FLOOR(d * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS inertia,
         |  CAST(SUM(CAST(FLOOR(d * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / COUNT(*) AS mean_dist2
         |FROM afd GROUP BY center_id ORDER BY center_id""".stripMargin)),

    Q("q85_embed_mmr", mmrTopK, Some {
      val cosAB = s"(${duckDot("a.embedding", "b.embedding")})" +
        s" / (sqrt(${duckDot("a.embedding", "a.embedding")})" +
        s" * sqrt(${duckDot("b.embedding", "b.embedding")}))"
      s"""WITH rel AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ($cosAB) AS rel
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |short AS (SELECT query_id, neighbor_id, rel, srn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS srn FROM rel) WHERE srn <= $MmrShortlist),
         |sims AS (
         |  SELECT x.query_id, x.neighbor_id AS a_id, y.neighbor_id AS b_id, ($cosAB) AS sim
         |  FROM short x
         |  JOIN short y ON y.query_id = x.query_id AND y.neighbor_id <> x.neighbor_id
         |  JOIN embeddings a ON a.vec_id = x.neighbor_id
         |  JOIN embeddings b ON b.vec_id = y.neighbor_id),
         |p1 AS (SELECT query_id, neighbor_id AS p1_id, $MmrLambda * rel AS p1_mmr
         |  FROM short WHERE srn = 1),
         |c2 AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    $MmrLambda * sl.rel - $MmrComp * s1.sim AS mmr
         |  FROM short sl
         |  JOIN p1 ON p1.query_id = sl.query_id
         |  JOIN sims s1 ON s1.query_id = sl.query_id
         |    AND s1.a_id = sl.neighbor_id AND s1.b_id = p1.p1_id
         |  WHERE sl.neighbor_id <> p1.p1_id),
         |p2 AS (SELECT query_id, neighbor_id AS p2_id, mmr AS p2_mmr FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY mmr DESC, neighbor_id) AS rn FROM c2) WHERE rn = 1),
         |c3 AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    $MmrLambda * sl.rel - $MmrComp * greatest(s1.sim, s2.sim) AS mmr
         |  FROM short sl
         |  JOIN p1 ON p1.query_id = sl.query_id
         |  JOIN p2 ON p2.query_id = sl.query_id
         |  JOIN sims s1 ON s1.query_id = sl.query_id
         |    AND s1.a_id = sl.neighbor_id AND s1.b_id = p1.p1_id
         |  JOIN sims s2 ON s2.query_id = sl.query_id
         |    AND s2.a_id = sl.neighbor_id AND s2.b_id = p2.p2_id
         |  WHERE sl.neighbor_id <> p1.p1_id AND sl.neighbor_id <> p2.p2_id),
         |p3 AS (SELECT query_id, neighbor_id AS p3_id, mmr AS p3_mmr FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY mmr DESC, neighbor_id) AS rn FROM c3) WHERE rn = 1)
         |SELECT query_id, CAST(1 AS BIGINT) AS pick, p1_id AS neighbor_id, p1_mmr AS mmr FROM p1
         |UNION ALL SELECT query_id, CAST(2 AS BIGINT), p2_id, p2_mmr FROM p2
         |UNION ALL SELECT query_id, CAST(3 AS BIGINT), p3_id, p3_mmr FROM p3
         |ORDER BY query_id, pick""".stripMargin
    }),

    Q("q93_embed_knn_graph", knnGraph, Some(
      s"""$knnGraphSqlCtes
         |SELECT src, rn, dst, cosine FROM r WHERE rn <= $KnnK
         |ORDER BY src, rn""".stripMargin)),

    Q("q99_embed_graph_search", graphSearch, Some(q99Sql)),

    Q("q135_embed_cluster_exemplars", clusterExemplars, Some(exemplarsOracleSql)),

    Q("q131_embed_pagerank", knnPagerank, Some {
      def iter(i: Int) =
        s"""s$i AS (
           |  SELECT e.vec_id, ${PrBase}e0 + ${PrDamp}e0 * COALESCE(t.in_sum, 0e0) AS score
           |  FROM embeddings e LEFT JOIN (
           |    SELECT g.dst AS vec_id,
           |      CAST(SUM(CAST(FLOOR((p.score / od.outdeg) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS in_sum
           |    FROM g JOIN od ON od.src = g.src JOIN s${i - 1} p ON p.vec_id = g.src
           |    GROUP BY g.dst) t ON t.vec_id = e.vec_id)""".stripMargin
      s"""$knnGraphSqlCtes,
         |g AS (SELECT src, dst FROM r WHERE rn <= $KnnK),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM g GROUP BY src),
         |s0 AS (SELECT vec_id, 1e0 AS score FROM embeddings),
         |${(1 to PrIters).map(iter).mkString(",\n")}
         |SELECT vec_id, score FROM s$PrIters ORDER BY vec_id""".stripMargin
    }),

    Q("q108_embed_outliers", knnOutliers, Some(
      s"""$knnGraphSqlCtes,
         |k AS (
         |  SELECT src AS vec_id, MAX(rn) AS n_neighbors,
         |    max_by(cosine, rn) AS kth_cosine
         |  FROM r WHERE rn <= $KnnK GROUP BY src)
         |SELECT e.vec_id, CAST(COALESCE(k.n_neighbors, 0) AS BIGINT) AS n_neighbors,
         |  k.kth_cosine
         |FROM embeddings e LEFT JOIN k USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin)),

    Q("q166_embed_triangles", knnTriangles, Some(
      s"""WITH ${knnGraphSqlCtes.stripPrefix("WITH ")},
         |g AS (SELECT src, dst FROM r WHERE rn <= $KnnK),
         |m AS (
         |  SELECT a.src AS a_id, a.dst AS b_id FROM g a
         |  JOIN g b ON a.src = b.dst AND a.dst = b.src
         |  WHERE a.src < a.dst),
         |tri AS (
         |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
         |  FROM m e1
         |  JOIN m e2 ON e2.a_id = e1.b_id
         |  JOIN m e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         |pn AS (SELECT id AS vec_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
         |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) t GROUP BY id),
         |deg AS (SELECT id AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         |    SELECT a_id AS id FROM m UNION ALL SELECT b_id FROM m) t GROUP BY id)
         |SELECT d.vec_id, d.degree, COALESCE(p.triangles, 0) AS triangles,
         |  CASE WHEN d.degree >= 2 THEN
         |    CAST(COALESCE(p.triangles, 0) * 2 AS DOUBLE)
         |      / CAST(d.degree * (d.degree - 1) AS DOUBLE) END AS clustering
         |FROM deg d LEFT JOIN pn p USING (vec_id)
         |ORDER BY d.vec_id""".stripMargin)),

    Q("q97_embed_knn_clusters", knnClusters, Some(
      s"""WITH RECURSIVE ${knnGraphSqlCtes.stripPrefix("WITH ")},
         |g AS (SELECT src, dst FROM r WHERE rn <= $KnnK),
         |m AS (
         |  SELECT a.src AS a_id, a.dst AS b_id FROM g a
         |  JOIN g b ON a.src = b.dst AND a.dst = b.src
         |  WHERE a.src < a.dst),
         |nodes AS MATERIALIZED (SELECT a_id AS id FROM m UNION SELECT b_id FROM m),
         |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM m
         |          UNION ALL SELECT b_id, a_id FROM m),
         |reach(id, rr) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.rr FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS vec_id, MIN(rr) AS cluster FROM reach
         |GROUP BY id ORDER BY vec_id""".stripMargin)),

    Q("q134_embed_cluster_cards", clusterCards, Some(
      s"""WITH RECURSIVE ${knnGraphSqlCtes.stripPrefix("WITH ")},
         |g AS (SELECT src, dst FROM r WHERE rn <= $KnnK),
         |m AS (
         |  SELECT a.src AS a_id, a.dst AS b_id FROM g a
         |  JOIN g b ON a.src = b.dst AND a.dst = b.src
         |  WHERE a.src < a.dst),
         |nodes AS MATERIALIZED (SELECT a_id AS id FROM m UNION SELECT b_id FROM m),
         |edgs AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM m
         |          UNION ALL SELECT b_id, a_id FROM m),
         |reach(id, rr) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.rr FROM edgs e JOIN reach ON e.dst = reach.id),
         |cl AS MATERIALIZED (SELECT id AS vec_id, MIN(rr) AS cluster FROM reach GROUP BY id),
         |toks AS MATERIALIZED (
         |  SELECT cluster, tok, COUNT(*) AS ctf FROM (
         |    SELECT cl.cluster, unnest(string_split(d.text, ' ')) AS tok
         |    FROM cl JOIN documents d ON d.doc_id = cl.vec_id) t
         |  WHERE tok <> '' GROUP BY cluster, tok),
         |cdf AS (SELECT tok, COUNT(*) AS cdf FROM toks GROUP BY tok),
         |ncl AS (SELECT COUNT(DISTINCT cluster) AS n_clusters FROM cl),
         |sizes AS (SELECT cluster, COUNT(*) AS n_members FROM cl GROUP BY cluster),
         |sc AS (
         |  SELECT t.cluster, t.tok, t.ctf, c.cdf,
         |    CAST(t.ctf AS DOUBLE) * (CAST(n.n_clusters AS DOUBLE) / CAST(c.cdf AS DOUBLE)) AS score
         |  FROM toks t JOIN cdf c USING (tok) CROSS JOIN ncl n),
         |rr2 AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY score DESC, tok) AS BIGINT) AS rn FROM sc)
         |SELECT rr2.cluster, sizes.n_members, rn, tok, ctf, cdf, score
         |FROM rr2 JOIN sizes ON sizes.cluster = rr2.cluster
         |WHERE rn <= 3 ORDER BY rr2.cluster, rn""".stripMargin)),

    Q("q89_embed_keep_best", semanticKeepBest, Some {
      val stopSql = TextOpsImpl.stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
      s"""WITH RECURSIVE jp AS MATERIALIZED (SELECT a_id, b_id FROM ($nearDupPairsSql) q56),
         |nodes AS MATERIALIZED (SELECT a_id AS id FROM jp UNION SELECT b_id FROM jp),
         |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM jp
         |          UNION ALL SELECT b_id, a_id FROM jp),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
         |t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopSql)) AS BIGINT) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id,
         |    least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) * 0.5
         |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tok) * 0.5 AS quality
         |  FROM t),
         |j AS (SELECT c.doc_id, c.component, q.quality FROM comp c JOIN q USING (doc_id)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
         |    ORDER BY quality DESC, doc_id) AS rn FROM j)
         |SELECT doc_id, component, quality, rn = 1 AS keep FROM r
         |ORDER BY doc_id""".stripMargin
    }),

    Q("q119_embed_hard_negatives", hardNegatives, Some(
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ti AS (
         |  SELECT t.doc_id, t.tok,
         |    CAST(t.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS w
         |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n),
         |qt AS (SELECT doc_id AS query_id, tok, w AS qw FROM ti WHERE doc_id < 8),
         |lex AS (
         |  SELECT q.query_id, t.doc_id,
         |    CAST(SUM(CAST(FLOOR(q.qw * t.w * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS lex
         |  FROM qt q JOIN ti t USING (tok)
         |  WHERE t.doc_id <> q.query_id
         |  GROUP BY q.query_id, t.doc_id),
         |lt AS (SELECT query_id, doc_id, CAST(lrn AS BIGINT) AS lrn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY lex DESC, doc_id) AS lrn FROM lex) WHERE lrn <= $HybridShortlist),
         |ex AS (SELECT query_id, neighbor_id AS doc_id FROM (
         |$q51Sql
         |) WHERE rn <= 3)
         |SELECT l.query_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY l.query_id ORDER BY l.lrn) AS BIGINT) AS rn,
         |  l.doc_id, l.lrn AS lex_rank
         |FROM lt l LEFT JOIN ex e ON e.query_id = l.query_id AND e.doc_id = l.doc_id
         |WHERE e.doc_id IS NULL
         |ORDER BY l.query_id, rn""".stripMargin)),

    Q("q90_hybrid_rrf", hybridRrf, Some {
      val cosAB = s"(${duckDot("a.embedding", "b.embedding")})" +
        s" / (sqrt(${duckDot("a.embedding", "a.embedding")})" +
        s" * sqrt(${duckDot("b.embedding", "b.embedding")}))"
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ti AS (
         |  SELECT t.doc_id, t.tok,
         |    CAST(t.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS w
         |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n),
         |qt AS (SELECT doc_id AS query_id, tok, w AS qw FROM ti WHERE doc_id < 8),
         |lex AS (
         |  SELECT q.query_id, t.doc_id,
         |    CAST(SUM(CAST(FLOOR(q.qw * t.w * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS lex
         |  FROM qt q JOIN ti t USING (tok)
         |  WHERE t.doc_id <> q.query_id
         |  GROUP BY q.query_id, t.doc_id),
         |lt AS (SELECT query_id, doc_id, CAST(lrn AS BIGINT) AS lrn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY lex DESC, doc_id) AS lrn FROM lex) WHERE lrn <= $HybridShortlist),
         |dn AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id, ($cosAB) AS cosine
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |dt AS (SELECT query_id, doc_id, CAST(drn AS BIGINT) AS drn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, doc_id) AS drn FROM dn) WHERE drn <= $HybridShortlist),
         |f AS (
         |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         |    COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lrn, d.drn,
         |    COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.lrn), 0.0)
         |      + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + d.drn), 0.0) AS rrf
         |  FROM lt l FULL OUTER JOIN dt d
         |    ON d.query_id = l.query_id AND d.doc_id = l.doc_id)
         |SELECT query_id, CAST(rn AS BIGINT) AS rn, doc_id, rrf,
         |  lrn AS lex_rank, drn AS dense_rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rn FROM f) WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }),

    Q("q87_embed_radius", radiusSearch, Some(
      s"""SELECT query_id, neighbor_id, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id)
         |WHERE cosine >= $RadiusCos
         |ORDER BY query_id, neighbor_id""".stripMargin)),

    Q("q124_embed_dim_stats", dimStats, Some {
      def d = "CAST(embedding[i.i] AS DOUBLE)"
      s"""WITH g AS (
         |  SELECT i.i AS dim, COUNT(*) AS n,
         |    CAST(SUM(CAST(FLOOR($d * 1e12) AS DECIMAL(38,0))) AS DOUBLE) AS s,
         |    CAST(SUM(CAST(FLOOR($d * $d * 1e12) AS DECIMAL(38,0))) AS DOUBLE) AS q,
         |    MIN($d) AS mn, MAX($d) AS mx,
         |    SUM(CASE WHEN ABS($d) < 0.01 THEN 1 ELSE 0 END) AS z
         |  FROM embeddings CROSS JOIN generate_series(1, $Dims) AS i(i)
         |  GROUP BY i.i)
         |SELECT dim, n AS n_vecs,
         |  s / 1e12 / n AS mean,
         |  q / 1e12 / n - (s / 1e12 / n) * (s / 1e12 / n) AS variance,
         |  mn AS min_v, mx AS max_v,
         |  CAST(z AS DOUBLE) / n AS near_zero_frac
         |FROM g ORDER BY dim""".stripMargin
    })
  )


  private lazy val q79Sql: String = {
      // one parts CTE over the unified (m-columned) codebooks, pivoted into
      // an explicitly ordered 8-term addition (a GROUP BY SUM over m would
      // sum in nondeterministic scan order and break bitwise parity)
      val sub = (1 to PqSub).map(j =>
        s"(CAST(p.qe[f.m * $PqSub + $j] AS DOUBLE) - cb.c$j) * (CAST(p.qe[f.m * $PqSub + $j] AS DOUBLE) - cb.c$j)")
        .mkString(" + ")
      val adcSum = (0 until PqM).map(m =>
        s"MAX(CASE WHEN m = $m THEN d END)").mkString("\n      + ")
      s"""WITH $kmeansChainSql,
         |$kmeansFinalAssignSql,
         |$pqChainsSql,
         |pairs AS (
         |  SELECT a.vec_id AS query_id, nb.vec_id AS neighbor_id, a.embedding AS qe
         |  FROM embeddings a
         |  JOIN af qa ON qa.vec_id = a.vec_id
         |  JOIN af nb ON nb.assigned = qa.assigned AND nb.vec_id <> a.vec_id
         |  WHERE a.vec_id < 8),
         |parts AS (
         |  SELECT p.query_id, p.neighbor_id, f.m, ($sub) AS d
         |  FROM pairs p
         |  JOIN pf f ON f.vec_id = p.neighbor_id
         |  JOIN pcb$KmeansIters cb ON cb.m = f.m AND cb.cid = f.code),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    $adcSum AS adc
         |  FROM parts GROUP BY query_id, neighbor_id),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS BIGINT) AS rn FROM adc)
         |SELECT query_id, rn, neighbor_id, adc FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  /** Shared seeds CTE for every learned-codebook oracle. */
  private val kmeansSeedsSql: String =
    """seeds AS (
      |  SELECT vec_id, embedding,
      |    ROW_NUMBER() OVER (ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      |  FROM embeddings)""".stripMargin

  /** ALL per-subspace Lloyd chains as ONE chain over an extra subspace
    * column `m` (`pcb0..pcbN` codebook tables of (m, cid, c1..c8) rows,
    * `pf` = final (vec_id, m, code)), assuming `seeds` is defined. The
    * subspace dimension is an expression index (`embedding[m*8+j]`), so
    * the 8 chains collapse to one — the first formulation (8 separate
    * chains, ~90 CTEs total with the coarse chain) made DuckDB's
    * per-operator × per-thread memory reservations exceed the sandbox's
    * commit limit and the q79 oracle OOM'd. */
  private lazy val pqChainsSql: String = {
    val dist = (1 to PqSub).map(j =>
      s"(CAST(e.embedding[c.m * $PqSub + $j] AS DOUBLE) - c.c$j) * (CAST(e.embedding[c.m * $PqSub + $j] AS DOUBLE) - c.c$j)")
      .mkString(" + ")
    val seedCols = (1 to PqSub).map(j =>
      s"CAST(s.embedding[t.m * $PqSub + $j] AS DOUBLE) AS c$j").mkString(", ")
    val means = (1 to PqSub).map(j =>
      s"CAST(SUM(CAST(FLOOR(CAST(e.embedding[a.m * $PqSub + $j] AS DOUBLE) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / COUNT(*) AS m$j")
      .mkString(",\n    ")
    val coal = (1 to PqSub).map(j => s"COALESCE(g.m$j, p.c$j) AS c$j").mkString(", ")
    // argmin via MIN over a (dist, cid) struct — lexicographic struct order
    // IS the (smallest dist, tie → smaller cid) discipline, and a hash
    // aggregate replaces a window operator (DuckDB's window reserves
    // per-thread memory proportional to plan size; with two chains in one
    // query the reservations exceeded the sandbox's commit limit)
    val iters = (1 to KmeansIters).map { t =>
      s"""pa$t AS (
         |  SELECT e.vec_id, c.m,
         |    (MIN({'d': ($dist), 'cid': c.cid})).cid AS assigned
         |  FROM embeddings e, pcb${t - 1} c GROUP BY e.vec_id, c.m),
         |pg$t AS (SELECT a.m, a.assigned AS cid, COUNT(*) AS n,
         |    $means
         |  FROM embeddings e JOIN pa$t a ON a.vec_id = e.vec_id GROUP BY a.m, a.assigned),
         |pcb$t AS (SELECT p.m, p.cid, $coal
         |  FROM pcb${t - 1} p LEFT JOIN pg$t g USING (m, cid))""".stripMargin
    }.mkString(",\n")
    s"""pcb0 AS (SELECT t.m, s.cid, $seedCols
       |  FROM seeds s, (SELECT range AS m FROM range($PqM)) t WHERE s.cid < $KmeansK),
       |$iters,
       |pf AS (
       |  SELECT e.vec_id, c.m,
       |    (MIN({'d': ($dist), 'cid': c.cid})).cid AS code
       |  FROM embeddings e, pcb$KmeansIters c GROUP BY e.vec_id, c.m)""".stripMargin
  }

  /** DuckDB mirror of the per-subspace learned-PQ encode: the unified
    * Lloyd chain, then the final per-subspace assignments pivoted into one
    * codes row per vector. */
  private lazy val pqKmeansSql: String = {
    val codes = (0 until PqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS code$m").mkString(", ")
    s"""WITH $kmeansSeedsSql,
       |$pqChainsSql
       |SELECT vec_id, $codes
       |FROM pf GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** Residual view mirror (res[64] = embedding − learned coarse center);
    * assumes kmeansChainSql + kmeansFinalAssignSql are in scope. */
  private lazy val residualSql: String = {
    val comps = (1 to Dims).map(i =>
      s"CAST(e.embedding[$i] AS DOUBLE) - c.c$i").mkString(", ")
    s"""res AS MATERIALIZED (
       |  SELECT e.vec_id, a.assigned, [$comps] AS res
       |  FROM embeddings e
       |  JOIN af a ON a.vec_id = e.vec_id
       |  JOIN c$KmeansIters c ON c.cid = a.assigned)""".stripMargin
  }

  /** Residual per-subspace Lloyd chains — [[pqChainsSql]] over the res
    * list (rcb0..rcbN codebooks, rf = final (vec_id, m, code)). */
  private lazy val rpqChainsSql: String = {
    val dist = (1 to PqSub).map(j =>
      s"(r.res[c.m * $PqSub + $j] - c.c$j) * (r.res[c.m * $PqSub + $j] - c.c$j)")
      .mkString(" + ")
    val seedCols = (1 to PqSub).map(j =>
      s"r.res[t.m * $PqSub + $j] AS c$j").mkString(", ")
    val means = (1 to PqSub).map(j =>
      s"CAST(SUM(CAST(FLOOR(r.res[a.m * $PqSub + $j] * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / COUNT(*) AS m$j")
      .mkString(",\n    ")
    val coal = (1 to PqSub).map(j => s"COALESCE(g.m$j, p.c$j) AS c$j").mkString(", ")
    val iters = (1 to KmeansIters).map { t =>
      s"""rpa$t AS (
         |  SELECT r.vec_id, c.m,
         |    (MIN({'d': ($dist), 'cid': c.cid})).cid AS assigned
         |  FROM res r, rcb${t - 1} c GROUP BY r.vec_id, c.m),
         |rpg$t AS (SELECT a.m, a.assigned AS cid, COUNT(*) AS n,
         |    $means
         |  FROM res r JOIN rpa$t a ON a.vec_id = r.vec_id GROUP BY a.m, a.assigned),
         |rcb$t AS (SELECT p.m, p.cid, $coal
         |  FROM rcb${t - 1} p LEFT JOIN rpg$t g USING (m, cid))""".stripMargin
    }.mkString(",\n")
    s"""rcb0 AS (SELECT t.m, s.cid, $seedCols
       |  FROM seeds s, res r, (SELECT range AS m FROM range($PqM)) t
       |  WHERE r.vec_id = s.vec_id AND s.cid < $KmeansK),
       |$iters,
       |rf AS (
       |  SELECT r.vec_id, c.m,
       |    (MIN({'d': ($dist), 'cid': c.cid})).cid AS code
       |  FROM res r, rcb$KmeansIters c GROUP BY r.vec_id, c.m)""".stripMargin
  }

  /** q148 mirror: residual codes pivoted into one row per vector. */
  private lazy val q148Sql: String = {
    val codes = (0 until PqM).map(m =>
      s"MAX(CASE WHEN f.m = $m THEN f.code END) AS code$m").mkString(", ")
    s"""WITH $kmeansChainSql,
       |$kmeansFinalAssignSql,
       |$residualSql,
       |$rpqChainsSql
       |SELECT f.vec_id, r.assigned, $codes
       |FROM rf f JOIN res r ON r.vec_id = f.vec_id
       |GROUP BY f.vec_id, r.assigned
       |ORDER BY f.vec_id""".stripMargin
  }

  /** q149 mirror: residual-ADC IVF-PQ probe (q79's shape over residuals,
    * with the same explicitly ordered 8-term ADC addition). */
  private lazy val q149Sql: String = {
    val sub = (1 to PqSub).map(j =>
      s"(p.qres[f.m * $PqSub + $j] - cb.c$j) * (p.qres[f.m * $PqSub + $j] - cb.c$j)")
      .mkString(" + ")
    val adcSum = (0 until PqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN d END)").mkString("\n      + ")
    s"""WITH $kmeansChainSql,
       |$kmeansFinalAssignSql,
       |$residualSql,
       |$rpqChainsSql,
       |pairs AS (
       |  SELECT qr.vec_id AS query_id, nb.vec_id AS neighbor_id, qr.res AS qres
       |  FROM res qr
       |  JOIN res nb ON nb.assigned = qr.assigned AND nb.vec_id <> qr.vec_id
       |  WHERE qr.vec_id < 8),
       |parts AS (
       |  SELECT p.query_id, p.neighbor_id, f.m, ($sub) AS d
       |  FROM pairs p
       |  JOIN rf f ON f.vec_id = p.neighbor_id
       |  JOIN rcb$KmeansIters cb ON cb.m = f.m AND cb.cid = f.code),
       |adc AS (
       |  SELECT query_id, neighbor_id,
       |    $adcSum AS adc
       |  FROM parts GROUP BY query_id, neighbor_id),
       |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS BIGINT) AS rn FROM adc)
       |SELECT query_id, rn, neighbor_id, adc FROM rr WHERE rn <= 3
       |ORDER BY query_id, rn""".stripMargin
  }

  private lazy val q76Sql: String =
    s"""WITH $kmeansChainSql,
       |$kmeansFinalAssignSql,
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    (${duckDot("a.embedding", "b.embedding")})
       |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
       |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
       |  FROM embeddings a
       |  JOIN af qa ON qa.vec_id = a.vec_id
       |  JOIN af nb ON nb.assigned = qa.assigned AND nb.vec_id <> a.vec_id
       |  JOIN embeddings b ON b.vec_id = nb.vec_id
       |  WHERE a.vec_id < 8),
       |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM p)
       |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
       |ORDER BY query_id, rn""".stripMargin

  private lazy val q55Sql: String = {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      val dist = (1 to Dims).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (
         |  SELECT e.vec_id, c.clabel, ($dist) AS dist2 FROM embeddings e, c),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
         |  FROM d),
         |asg AS (SELECT vec_id, clabel AS assigned FROM r WHERE rn = 1),
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a
         |  JOIN asg qa ON qa.vec_id = a.vec_id
         |  JOIN asg nb ON nb.assigned = qa.assigned AND nb.vec_id <> a.vec_id
         |  JOIN embeddings b ON b.vec_id = nb.vec_id
         |  WHERE a.vec_id < 8),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM p)
         |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private lazy val q64Sql: String = {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      val dist = (1 to Dims).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (
         |  SELECT e.vec_id, c.clabel, ($dist) AS dist2 FROM embeddings e, c),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
         |  FROM d),
         |asg AS (SELECT vec_id, clabel AS assigned FROM r WHERE rn = 1),
         |qasg AS (SELECT vec_id, clabel AS probed FROM r WHERE rn <= 2),
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a
         |  JOIN qasg qa ON qa.vec_id = a.vec_id
         |  JOIN asg nb ON nb.assigned = qa.probed AND nb.vec_id <> a.vec_id
         |  JOIN embeddings b ON b.vec_id = nb.vec_id
         |  WHERE a.vec_id < 8),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM p)
         |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private lazy val q158Sql: String = {
    val sums = (1 to Dims).map(i =>
      s"${duckCentComp(i)} / COUNT(*) AS c$i").mkString(", ")
    val dist = (1 to Dims).map(i =>
      s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
      .mkString(" + ")
    val probes = VectorOpsImpl.NprobeSweep.map { np =>
      s"""p$np AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a
         |  JOIN qasg qa ON qa.vec_id = a.vec_id AND qa.rn <= $np
         |  JOIN asg nb ON nb.assigned = qa.probed AND nb.vec_id <> a.vec_id
         |  JOIN embeddings b ON b.vec_id = nb.vec_id
         |  WHERE a.vec_id < 8),
         |rr$np AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rn FROM p$np),
         |t$np AS (SELECT CAST($np AS BIGINT) AS nprobe, query_id, neighbor_id
         |  FROM rr$np WHERE rn <= 3)""".stripMargin
    }.mkString(",\n")
    val unionAll = VectorOpsImpl.NprobeSweep
      .map(np => s"SELECT * FROM t$np").mkString(" UNION ALL ")
    s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
       |  FROM embeddings GROUP BY label),
       |d AS (SELECT e.vec_id, c.clabel, ($dist) AS dist2 FROM embeddings e, c),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
       |  FROM d),
       |asg AS (SELECT vec_id, clabel AS assigned FROM r WHERE rn = 1),
       |qasg AS (SELECT vec_id, clabel AS probed, rn FROM r),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |$q51Sql
       |) WHERE rn <= 3),
       |$probes,
       |found AS ($unionAll),
       |hits AS (
       |  SELECT nprobe,
       |    CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched
       |  FROM found f LEFT JOIN exact e
       |    ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
       |  GROUP BY nprobe),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
       |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM c)
       |SELECT nprobe, k AS k_clusters, matched, n_exact,
       |  CAST(matched AS DOUBLE) / n_exact AS recall,
       |  CAST(nprobe AS DOUBLE) / CAST(k AS DOUBLE) AS frac_probed
       |FROM hits, tot, kk ORDER BY nprobe""".stripMargin
  }

  private lazy val q63Sql: String = {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      def sub(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      val dcols = (0 until PqM).map(m => s"(${sub(m)}) AS d$m").mkString(",\n    ")
      val rns = (0 until PqM).map(m =>
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d$m, clabel) AS r$m").mkString(",\n    ")
      val codes = (0 until PqM).map(m =>
        s"MAX(CASE WHEN r$m = 1 THEN clabel END) AS code$m").mkString(",\n  ")
      def subQ(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i) * (CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i)")
        .mkString(" + ")
      val adc = (0 until PqM).map(m => s"(${subQ(m)})").mkString("\n      + ")
      val codeJoins = (0 until PqM).map(m =>
        s"JOIN c c$m ON c$m.clabel = n.code$m").mkString("\n  ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (SELECT e.vec_id, c.clabel,
         |    $dcols
         |  FROM embeddings e, c),
         |r AS (SELECT *,
         |    $rns
         |  FROM d),
         |codes AS (SELECT vec_id,
         |    $codes
         |  FROM r GROUP BY vec_id),
         |adc AS (
         |  SELECT a.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM embeddings a
         |  CROSS JOIN codes n
         |  $codeJoins
         |  WHERE a.vec_id < 8 AND n.vec_id <> a.vec_id),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS BIGINT) AS rn FROM adc)
         |SELECT query_id, rn, neighbor_id, adc FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private lazy val q66Sql: String = {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      def sub(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      val dcols = (0 until PqM).map(m => s"(${sub(m)}) AS d$m").mkString(",\n    ")
      val rns = (0 until PqM).map(m =>
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d$m, clabel) AS r$m").mkString(",\n    ")
      val codes = (0 until PqM).map(m =>
        s"MAX(CASE WHEN r$m = 1 THEN clabel END) AS code$m").mkString(",\n  ")
      def subQ(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i) * (CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i)")
        .mkString(" + ")
      val adc = (0 until PqM).map(m => s"(${subQ(m)})").mkString("\n      + ")
      val codeJoins = (0 until PqM).map(m =>
        s"JOIN c c$m ON c$m.clabel = n.code$m").mkString("\n  ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |d AS (SELECT e.vec_id, c.clabel,
         |    $dcols
         |  FROM embeddings e, c),
         |r AS (SELECT *,
         |    $rns
         |  FROM d),
         |codes AS (SELECT vec_id,
         |    $codes
         |  FROM r GROUP BY vec_id),
         |adc AS (
         |  SELECT a.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM embeddings a
         |  CROSS JOIN codes n
         |  $codeJoins
         |  WHERE a.vec_id < 8 AND n.vec_id <> a.vec_id),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS arn FROM adc),
         |ex AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM sl s
         |  JOIN embeddings a ON a.vec_id = s.query_id
         |  JOIN embeddings b ON b.vec_id = s.neighbor_id
         |  WHERE s.arn <= 10),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM ex)
         |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private lazy val q68Sql: String = {
      val sums = (1 to Dims).map(i =>
        s"${duckCentComp(i)} / COUNT(*) AS c$i")
        .mkString(", ")
      val dist = (1 to Dims).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      def sub(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
        .mkString(" + ")
      val dcols = (0 until PqM).map(m => s"(${sub(m)}) AS d$m").mkString(",\n    ")
      val rns = (0 until PqM).map(m =>
        s"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d$m, clabel) AS r$m").mkString(",\n    ")
      val codeCols = (0 until PqM).map(m =>
        s"MAX(CASE WHEN r$m = 1 THEN clabel END) AS code$m").mkString(",\n  ")
      def subQ(m: Int) = ((m * PqSub + 1) to (m * PqSub + PqSub)).map(i =>
        s"(CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i) * (CAST(a.embedding[$i] AS DOUBLE) - c$m.c$i)")
        .mkString(" + ")
      val adc = (0 until PqM).map(m => s"(${subQ(m)})").mkString("\n      + ")
      val codeJoins = (0 until PqM).map(m =>
        s"JOIN c c$m ON c$m.clabel = n.code$m").mkString("\n  ")
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS clabel, $sums
         |  FROM embeddings GROUP BY label),
         |dd AS (
         |  SELECT e.vec_id, c.clabel, ($dist) AS dist2,
         |    $dcols
         |  FROM embeddings e, c),
         |rr0 AS (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS crn,
         |    $rns
         |  FROM dd),
         |asg AS (SELECT vec_id, clabel AS assigned FROM rr0 WHERE crn = 1),
         |codes AS (SELECT vec_id,
         |    $codeCols
         |  FROM rr0 GROUP BY vec_id),
         |adc AS (
         |  SELECT a.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    $adc AS adc
         |  FROM embeddings a
         |  JOIN asg qa ON qa.vec_id = a.vec_id
         |  JOIN asg nb ON nb.vec_id <> a.vec_id AND nb.assigned = qa.assigned
         |  JOIN codes n ON n.vec_id = nb.vec_id
         |  $codeJoins
         |  WHERE a.vec_id < 8),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS BIGINT) AS rn FROM adc)
         |SELECT query_id, rn, neighbor_id, adc FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private lazy val q70Sql: String = {
      val projs = (0 until 16).map { j =>
        val sum = (1 to Dims)
          .map(i => s"${hyperplanes(j)(i - 1)} * CAST(embedding[$i] AS DOUBLE)")
          .mkString(" + ")
        s"($sum) * 0.25 AS p$j"
      }.mkString(",\n    ")
      val d16 = (0 until 16).map(j => s"(q.p$j - n.p$j) * (q.p$j - n.p$j)").mkString(" + ")
      s"""WITH sk AS (
         |  SELECT vec_id,
         |    $projs
         |  FROM embeddings),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, ($d16) AS d16
         |  FROM sk q, sk n
         |  WHERE q.vec_id < 8 AND n.vec_id <> q.vec_id),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY d16, neighbor_id) AS arn FROM pairs),
         |ex AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM sl s
         |  JOIN embeddings a ON a.vec_id = s.query_id
         |  JOIN embeddings b ON b.vec_id = s.neighbor_id
         |  WHERE s.arn <= 10),
         |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM ex)
         |SELECT query_id, rn, neighbor_id, cosine FROM rr WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin
    }

  private[graft] lazy val q51Sql: String = {
    s"""WITH p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    (${duckDot("a.embedding", "b.embedding")})
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn FROM p)
         |SELECT query_id, rn, neighbor_id, cosine FROM r WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin
  }

  /** DuckDB mirror of the deterministic Lloyd loop — a fixed-iteration CTE
    * unroll: seeds → c0, then per iteration t an assignment (a_t, same
    * (dist², cid) tie discipline as the Spark argmin), a quantized-mean
    * recompute (g_t), and an empty-cluster COALESCE (c_t). */
  private lazy val kmeansChainSql: String = {
    val seedCols = (1 to Dims).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS c$i").mkString(",\n    ")
    val means = (1 to Dims).map(i =>
      s"${duckCentComp(i)} / COUNT(*) AS m$i").mkString(",\n    ")
    val coal = (1 to Dims).map(i =>
      s"COALESCE(g.m$i, p.c$i) AS c$i").mkString(",\n    ")
    // MIN-struct argmin instead of a ROW_NUMBER window — same (dist, cid)
    // tie discipline, far cheaper operator (see pqChainsSql note)
    // Each c_t is referenced TWICE by round t+1 (assignment + coalesce):
    // un-hinted, DuckDB's CTE inlining re-derives the chain 2^t times —
    // MATERIALIZED pins each round to one execution (k-row relations).
    val iters = (1 to KmeansIters).map { t =>
      s"""a$t AS (
         |  SELECT e.vec_id,
         |    (MIN({'d': ($kmeansDistSql), 'cid': c.cid})).cid AS assigned
         |  FROM embeddings e, c${t - 1} c GROUP BY e.vec_id),
         |g$t AS (SELECT a.assigned AS cid, COUNT(*) AS n,
         |    $means
         |  FROM embeddings e JOIN a$t a ON a.vec_id = e.vec_id GROUP BY a.assigned),
         |c$t AS MATERIALIZED (SELECT p.cid, COALESCE(g.n, CAST(0 AS BIGINT)) AS n,
         |    $coal
         |  FROM c${t - 1} p LEFT JOIN g$t g USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""$kmeansSeedsSql,
       |c0 AS (SELECT cid, CAST(0 AS BIGINT) AS n,
       |    $seedCols
       |  FROM seeds WHERE cid < $KmeansK),
       |$iters""".stripMargin
  }

  private lazy val kmeansDistSql: String = (1 to Dims).map(i =>
    s"(CAST(e.embedding[$i] AS DOUBLE) - c.c$i) * (CAST(e.embedding[$i] AS DOUBLE) - c.c$i)")
    .mkString(" + ")

  /** Assignment of every vector against the final learned centers. */
  private lazy val kmeansFinalAssignSql: String =
    s"""af AS (
       |  SELECT e.vec_id,
       |    (MIN({'d': ($kmeansDistSql), 'cid': c.cid})).cid AS assigned
       |  FROM embeddings e, c$KmeansIters c GROUP BY e.vec_id)""".stripMargin

  /** DuckDB mirror of [[VectorOpsImpl.cosineNearDupPairs]] (shared by q56
    * and the q58 component wrap). */
  private lazy val nearDupPairsSql: String = {
    val mask = (1L << NearDupBandBits) - 1
    val bands = (0 until NearDupBands).map(b =>
      s"SELECT vec_id, $b AS band, (sig >> ${b * NearDupBandBits}) & $mask AS bv FROM s")
      .mkString(" UNION ALL ")
    s"""WITH s AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST((${lshSignature(i => s"CAST(embedding[$i] AS DOUBLE)")}) AS BIGINT) AS sig
       |  FROM embeddings),
       |bands AS MATERIALIZED ($bands),
       |ok AS (SELECT band, bv FROM bands GROUP BY band, bv HAVING COUNT(*) <= $NearDupBucketCap),
       |bk AS (SELECT b.vec_id, b.band, b.bv FROM bands b JOIN ok USING (band, bv)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT a_id, b_id,
       |    (${duckDot("a.embedding", "b.embedding")})
       |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
       |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = a_id
       |  JOIN embeddings b ON b.vec_id = b_id)
       |SELECT a_id, b_id, cosine FROM p
       |ORDER BY cosine DESC, a_id, b_id LIMIT 50""".stripMargin
  }

  /** DuckDB mirror of [[VectorOpsImpl.graphSearch]] (q99; also a q77 panel
    * branch). The two-hop expansion is unrolled — matches
    * GraphSearchHops = 2 by construction. */
  private lazy val q99Sql: String = {
    import VectorOpsImpl.KnnK
    s"""$knnGraphSqlCtes,
       |g AS (SELECT src, dst FROM r WHERE rn <= $KnnK),
       |h1 AS (SELECT src AS query_id, dst AS cand FROM g WHERE src < 8),
       |h2 AS (SELECT h1.query_id, g.dst AS cand FROM h1 JOIN g ON g.src = h1.cand),
       |cands AS (
       |  SELECT DISTINCT query_id, cand
       |  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
       |  WHERE cand <> query_id),
       |gp AS (
       |  SELECT query_id, cand,
       |    (${duckDot("a.embedding", "b.embedding")})
       |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
       |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
       |  FROM cands
       |  JOIN embeddings a ON a.vec_id = query_id
       |  JOIN embeddings b ON b.vec_id = cand),
       |grk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand) AS BIGINT) AS rn FROM gp)
       |SELECT query_id, rn, cand AS neighbor_id, cosine FROM grk WHERE rn <= 3
       |ORDER BY query_id, rn""".stripMargin
  }

  /** DuckDB mirror of the exemplar pick (q135), shared with q140's
    * persisted-artifact round trip: identical SQL because the persisted
    * index is REQUIRED to hash-match the batch rebuild. */
  private[graft] lazy val exemplarsOracleSql: String = {
    def iter(i: Int) =
      s"""s$i AS (
         |  SELECT e.vec_id, ${PrBase}e0 + ${PrDamp}e0 * COALESCE(t.in_sum, 0e0) AS score
         |  FROM embeddings e LEFT JOIN (
         |    SELECT g.dst AS vec_id,
         |      CAST(SUM(CAST(FLOOR((p2.score / od.outdeg) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS in_sum
         |    FROM g JOIN od ON od.src = g.src JOIN s${i - 1} p2 ON p2.vec_id = g.src
         |    GROUP BY g.dst) t ON t.vec_id = e.vec_id)""".stripMargin
    s"""WITH RECURSIVE ${knnGraphSqlCtes.stripPrefix("WITH ")},
       |g AS MATERIALIZED (SELECT src, dst FROM r WHERE rn <= $KnnK),
       |m AS (
       |  SELECT a.src AS a_id, a.dst AS b_id FROM g a
       |  JOIN g b ON a.src = b.dst AND a.dst = b.src
       |  WHERE a.src < a.dst),
       |nodes AS MATERIALIZED (SELECT a_id AS id FROM m UNION SELECT b_id FROM m),
       |edgs AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM m
       |          UNION ALL SELECT b_id, a_id FROM m),
       |reach(id, rr) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.rr FROM edgs e JOIN reach ON e.dst = reach.id),
       |cl AS MATERIALIZED (SELECT id AS vec_id, MIN(rr) AS cluster FROM reach GROUP BY id),
       |od AS (SELECT src, COUNT(*) AS outdeg FROM g GROUP BY src),
       |s0 AS (SELECT vec_id, 1e0 AS score FROM embeddings),
       |${(1 to PrIters).map(iter).mkString(",\n")},
       |jn AS (
       |  SELECT cl.cluster, cl.vec_id, sN.score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cl.cluster
       |      ORDER BY sN.score DESC, cl.vec_id) AS BIGINT) AS rn
       |  FROM cl JOIN s$PrIters sN USING (vec_id))
       |SELECT cluster, vec_id AS exemplar_id, score FROM jn
       |WHERE rn = 1 ORDER BY cluster""".stripMargin
  }

  /** DuckDB CTE chain ending in `cl(vec_id, cluster)` — the mutual-kNN
    * community map, shared by the q184 clustering-quality oracle (same
    * chain as q97/q135/q140's oracles, exposed once). */
  private[graft] lazy val clustersSqlCtes: String =
    s"""WITH RECURSIVE ${knnGraphSqlCtes.stripPrefix("WITH ")},
       |g AS MATERIALIZED (SELECT src, dst FROM r WHERE rn <= $KnnK),
       |m AS (
       |  SELECT a.src AS a_id, a.dst AS b_id FROM g a
       |  JOIN g b ON a.src = b.dst AND a.dst = b.src
       |  WHERE a.src < a.dst),
       |nodes AS MATERIALIZED (SELECT a_id AS id FROM m UNION SELECT b_id FROM m),
       |edgs AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM m
       |          UNION ALL SELECT b_id, a_id FROM m),
       |reach(id, rr) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.rr FROM edgs e JOIN reach ON e.dst = reach.id),
       |cl AS MATERIALIZED (SELECT id AS vec_id, MIN(rr) AS cluster
       |  FROM reach GROUP BY id)""".stripMargin

  /** DuckDB mirror of the kNN-graph build (shared by q93 and the q97
    * clustering wrap): CTEs ending in `r` = the ranked directed graph. */
  private[graft] lazy val knnGraphSqlCtes: String = {
    val mask = (1L << NearDupBandBits) - 1
    val bands = (0 until NearDupBands).map(b =>
      s"SELECT vec_id, $b AS band, (sig >> ${b * NearDupBandBits}) & $mask AS bv FROM s")
      .mkString(" UNION ALL ")
    // AS MATERIALIZED: DuckDB otherwise INLINES a CTE at every reference —
    // the band union reads `s` 16× and every graph consumer re-derives
    // `r`'s whole all-pairs chain (q166's triangle joins walked it ~8×:
    // 194 s of the round-6 oracle compare's 630 s total, which overran the
    // driver's budget and recorded the round's correctness EMPTY).
    s"""WITH s AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST((${lshSignature(i => s"CAST(embedding[$i] AS DOUBLE)")}) AS BIGINT) AS sig
       |  FROM embeddings),
       |bands AS MATERIALIZED ($bands),
       |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
       |  HAVING COUNT(*) <= $NearDupBucketCap),
       |bk AS (SELECT b.vec_id, b.band, b.bv FROM bands b JOIN ok USING (band, bv)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv
       |    AND a.vec_id <> b.vec_id),
       |p AS (
       |  SELECT src, dst,
       |    (${duckDot("a.embedding", "b.embedding")})
       |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
       |         * sqrt(${duckDot("b.embedding", "b.embedding")})) AS cosine
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = src
       |  JOIN embeddings b ON b.vec_id = dst),
       |r AS MATERIALIZED (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst) AS BIGINT) AS rn FROM p)""".stripMargin
  }
}
