package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Indexes, Registry}
import graft.ops.{DedupOpsImpl, TextOpsImpl, VectorOpsImpl}

/** The training-data half: the five curation builds over seeded
  * `documents` / `embeddings`, each pass after `Registry.clearAllCaches()`.
  * Passes repeat for the run's seconds (one pass outlasts them on 4 cores);
  * the builds' outputs are checked against the planted duplicates and the
  * benchmark's own brute-force nearest neighbours.
  *
  * Freshness of an input row = pass start -> the end of the last build over
  * its table (the three document builds run first, then the two embedding
  * builds), one sample per document and per vector. */
final class CurationWorkload extends Workload {
  import CurationWorkload._
  val Docs = 600
  val Dups = 40
  val Vecs = 500
  val Clusters = 8
  private val SetupReps = 3
  /** Quality floors: shares of planted pairs found, and of exact top-3
    * neighbours the ANN panel returns (mean over its paths). */
  val DedupRecallFloor = 0.9
  val AnnRecallFloor = 0.5

  /** The five named index builds, as the engine's registry defines them. */
  val builds: Seq[(String, (SparkSession, String) => Unit)] =
    (DocBuilds ++ VecBuilds).map(n => n -> Indexes.all.find(_.name == n).get.force)

  /** The ANN panel's ten probe paths (public per-path top-3 builders). */
  val annPaths: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "adc_rerank" -> ((s, d) => VectorOpsImpl.pqAdcRerank(s, d)),
    "graph_search" -> ((s, d) => VectorOpsImpl.graphSearch(s, d)),
    "ivf" -> ((s, d) => VectorOpsImpl.ivfTopK(s, d)),
    "ivf_multiprobe" -> ((s, d) => VectorOpsImpl.ivfMultiProbeTopK(s, d)),
    "ivfpq" -> ((s, d) => VectorOpsImpl.ivfPqTopK(s, d)),
    "jl_rerank" -> ((s, d) => VectorOpsImpl.jlRerank(s, d)),
    "kmeans_ivf" -> ((s, d) => VectorOpsImpl.kmeansIvfTopK(s, d)),
    "kmeans_ivfpq" -> ((s, d) => VectorOpsImpl.kmeansIvfPqTopK(s, d)),
    "pq_adc" -> ((s, d) => VectorOpsImpl.pqAdcTopK(s, d)),
    "rivfpq" -> ((s, d) => VectorOpsImpl.residualIvfPqTopK(s, d)))

  def write(spark: SparkSession, dir: Path, seed: Long, docs: Int, dups: Int, vecs: Int)
      : (Vector[CurationGen.Doc], Set[(Long, Long)], Vector[CurationGen.Vec]) = {
    val (ds, pairs) = CurationGen.documents(seed, docs, dups)
    val vs = CurationGen.embeddings(seed + 1, vecs, Clusters)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    Files2.deleteTree(dir)
    spark.createDataFrame(spark.sparkContext.parallelize(
        ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 1), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(spark.sparkContext.parallelize(
        vs.map(v => Row(v.id, v.v.toSeq, v.label)), 1), vecSchema)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    (ds, pairs, vs)
  }

  def run(ctx: Ctx): Seq[(String, Metric)] = {
    val t = ctx.tracer
    val L = ctx.layer
    val jvmBoot = Ctx.sinceJvmStart()
    val dir = ctx.work.resolve("curation")
    var data: (Vector[CurationGen.Doc], Set[(Long, Long)], Vector[CurationGen.Vec]) = null
    val reps = (0 until SetupReps).map { i =>
      t.span(s"setup.rep$i", "bench") {
        val (_, session) = ctx.timed(t.span("setup.session", "bench")(ctx.newSession()))
        val (_, generate) = ctx.timed(t.span("setup.generate", "bench") {
          data = write(ctx.spark, dir, ctx.seed, Docs, Dups, Vecs)
        })
        val (_, warm) = ctx.timed(t.span("setup.warmup", "bench") {
          val wdir = ctx.work.resolve(s"warm$i")
          write(ctx.spark, wdir, ctx.seed + 1000 + i, 80, 4, 80)
          builds.toMap.apply("text_winnow")(ctx.spark, wdir.toString)
          Registry.clearAllCaches()
          Files2.deleteTree(wdir)
        })
        (session, generate, warm)
      }
    }
    val setupS = jvmBoot + Stats.median(reps.map(r => r._1 + r._2 + r._3))
    L("setup.session_s") = Stats.median(reps.map(_._1))
    L("setup.generate_s") = Stats.median(reps.map(_._2))
    L("setup.warmup_s") = Stats.median(reps.map(_._3))
    val spark = ctx.spark
    val (docs, planted, vecs) = data

    val passes = mutable.ArrayBuffer[Double]()
    val fresh = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    t.span("phase.curate", "bench") {
      while (passes.isEmpty || System.nanoTime() < deadline) {
        Registry.clearAllCaches()
        val t0 = System.nanoTime()
        val doneMs = builds.map { case (name, build) =>
          t.span(s"build.$name", "ops_curation")(build(spark, dir.toString))
          ctx.op()
          name -> (System.nanoTime() - t0) / 1e6
        }.toMap
        passes += doneMs.values.max / 1e3
        fresh ++= Seq.fill(docs.size)(DocBuilds.map(doneMs).max) ++
          Seq.fill(vecs.size)(VecBuilds.map(doneMs).max)
      }
    }

    ctx.sampleLiveHeap()
    L("trace.bulk_s") = Stats.median(passes.toSeq)

    // ---- checks on the last pass's (memoized) artifacts
    t.span("check.curation", "bench") {
      val d = dir.toString
      val pairs = DedupOpsImpl.minhashLsh(spark, d).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lshRecall = planted.count(pairs).toDouble / planted.size
      val comp = DedupOpsImpl.dedupComponents(spark, d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val compRecall = planted.count { case (a, b) => comp.get(a).isDefined && comp.get(a) == comp.get(b) }
        .toDouble / planted.size
      L("ops.curate.dedup_recall") = math.min(lshRecall, compRecall)
      ctx.check("curate.dedup_recall",
        if (lshRecall >= DedupRecallFloor && compRecall >= DedupRecallFloor) Nil
        else Seq(f"planted-duplicate recall lsh $lshRecall%.3f components $compRecall%.3f < $DedupRecallFloor"))
      val winnowDocs = TextOpsImpl.winnowIndex(spark, d).select("doc_id").distinct().count()
      ctx.check("curate.winnow", if (winnowDocs == docs.size) Nil
        else Seq(s"winnow index covers $winnowDocs of ${docs.size} documents"))
      val cents = VectorOpsImpl.kmeansCentroids(spark, d).collect()
      val assigned = cents.map(_.getAs[Long]("n")).sum
      ctx.check("curate.kmeans", if (cents.length == 8 && assigned == vecs.size) Nil
        else Seq(s"k-means model has ${cents.length} centres covering $assigned of ${vecs.size} vectors"))
      val exact = exactTop3(vecs)
      val perPath = annPaths.map { case (_, path) =>
        val rows = path(spark, d).filter("rn <= 3").select("query_id", "neighbor_id").collect()
        rows.count(r => exact.getOrElse(r.getLong(0), Set.empty[Long])(r.getLong(1))).toDouble /
          exact.values.map(_.size).sum
      }
      val annRecall = if (perPath.isEmpty) 0.0 else perPath.sum / perPath.size
      L("ops.curate.ann_recall3") = annRecall
      ctx.check("curate.ann_recall", if (perPath.size == 10 && annRecall >= AnnRecallFloor) Nil
        else Seq(f"ANN panel: ${perPath.size} paths, mean recall@3 $annRecall%.3f < $AnnRecallFloor"))
    }
    Registry.clearAllCaches()
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "bulk_s" -> Metric(L("trace.bulk_s"), "s"),
      "fresh_p50_ms" -> Metric(Stats.percentile(fresh.toSeq, 50), "ms"),
      "fresh_p99_ms" -> Metric(Stats.percentile(fresh.toSeq, 99, 10), "ms"))
  }

  /** Brute-force cosine top-3 for the panel's queries (vec_id < 8), ties
    * broken by neighbour id, computed by the benchmark in plain Scala. */
  def exactTop3(vecs: Seq[CurationGen.Vec]): Map[Long, Set[Long]] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    vecs.filter(_.id < 8).map { q =>
      val qn = math.sqrt(dot(q.v, q.v))
      q.id -> vecs.filter(_.id != q.id)
        .map(c => (c.id, dot(q.v, c.v) / (qn * math.sqrt(dot(c.v, c.v)))))
        .sortBy { case (id, cos) => (-cos, id) }.take(3).map(_._1).toSet
    }.toMap
  }
}

object CurationWorkload {
  /** The builds over each input table, in build order. */
  val DocBuilds = Seq("dedup_lsh_pairs", "dedup_components", "text_winnow")
  val VecBuilds = Seq("embed_kmeans_model", "embed_ann_panel")
}
