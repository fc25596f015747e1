package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** Result of one run: the contract's JSON line. */
final case class Outcome(attempted: Long, problems: Seq[String],
    metrics: Seq[(String, Metric)]) {
  def failed: Long = problems.size.toLong
  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (n, m) =>
      s""""$n": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Shared run state: the session, the tracer, the listeners and the
  * operation/problem ledger every workload reports through. */
final class Ctx(val seed: Long, val seconds: Int, val tracer: Tracer,
    val work: Path, val cores: Int) {
  var spark: SparkSession = _
  val progress = new ProgressListener
  /** One job listener per SparkContext: job ids restart with each context. */
  val jobListeners = mutable.ArrayBuffer[JobListener]()
  private var ops = 0L
  private val problems = mutable.ArrayBuffer[String]()
  val layer = mutable.LinkedHashMap[String, Double]()

  def op(n: Long = 1): Unit = synchronized { ops += n }
  def problem(s: String): Unit = synchronized { problems += s }
  /** One output check: counts as an operation, and as failed if it found
    * problems. */
  def check(name: String, found: Seq[String]): Unit = {
    op()
    if (found.nonEmpty) problem(s"$name: ${found.take(5).mkString("; ")}")
  }
  def attempted: Long = ops
  def found: Seq[String] = problems.toSeq

  private var liveHeapMb = 0.0
  /** Full GC, then note the heap still in use; called once the last timed
    * phase has ended. */
  def sampleLiveHeap(): Unit = {
    // the first collection queues unreachable RDDs, shuffles and broadcasts
    // for Spark's ContextCleaner; the later ones free what it has dropped
    System.gc()
    Thread.sleep(600)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapMb = used / 1048576.0
  }
  /** Heap in use right after that full GC (MB). */
  def liveHeap: Double = liveHeapMb

  /** (Re)create the session with the engine's `StreamMain` settings. */
  def newSession(master: String = s"local[$cores]"): SparkSession = {
    Option(spark).foreach(_.stop())
    spark = Ctx.session(master, work)
    spark.streams.addListener(progress)
    tracer.sc = spark.sparkContext
    if (tracer.enabled) {
      val jl = new JobListener
      jobListeners += jl
      spark.sparkContext.addSparkListener(jl)
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, tracer.current.toString)
    }
    spark
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Ctx {
  def session(master: String, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Milliseconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** A workload: `run` measures and checks, then returns the end-to-end
  * metrics every workload reports (`setup_s`, `bulk_s`, `fresh_p50_ms`,
  * `fresh_p99_ms`; `Main` adds `live_heap_mb`); per-layer metrics go to
  * `ctx.layer`. */
trait Workload {
  def run(ctx: Ctx): Seq[(String, Metric)]
}

object Main {
  /** Any error ends the run without a result line; Spark's non-daemon
    * threads would otherwise keep the JVM alive after `main` throws. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(10)
    val trace = opts.get("trace").contains("1")
    val work = java.nio.file.Paths.get(opts.getOrElse("work", "bench-work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = name match {
      case CdcSpec.Name => new CdcWorkload
      case "curation" => new CurationWorkload
      case other => sys.error(s"unknown workload '$other'")
    }
    val runId = s"$name-$seed-${if (trace) "traced" else "plain"}"
    val ctx = new Ctx(seed, seconds, new Tracer(trace, runId), work, cores)
    System.err.println(f"[graftbench] main entered ${Ctx.sinceJvmStart()}%.3f s after JVM start")
    val e2e = workload.run(ctx)
    System.err.println(f"[graftbench] workload done ${Ctx.sinceJvmStart()}%.3f s after JVM start")
    ctx.layer("jvm.live_heap_mb") = ctx.liveHeap
    ctx.layer("jvm.peak_rss_mb") = Ctx.peakRssMb()
    val metrics =
      if (!trace) e2e :+ ("live_heap_mb" -> Metric(ctx.liveHeap, "MB"))
      else {
        val spanFile = work.resolve(s"$runId.spans.jsonl")
        val (layerMetrics, spans) = Layers.report(ctx)
        ctx.tracer.writeJsonLines(spanFile, spans)
        System.err.println(s"[graftbench] spans: $spanFile")
        layerMetrics
      }
    Option(ctx.spark).foreach(_.stop())
    System.err.println(f"[graftbench] session stopped ${Ctx.sinceJvmStart()}%.3f s after JVM start")
    val out = Outcome(ctx.attempted, ctx.found, metrics)
    ctx.found.foreach(p => System.err.println(s"[graftbench] FAILED CHECK: $p"))
    println(out.json)
    System.out.flush()
    sys.exit(if (out.problems.isEmpty) 0 else 3)
  }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).toArray
    all.foreach(x => Files.deleteIfExists(x.asInstanceOf[Path]))
  }
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      var n = 0L
      Files.walk(p).forEach(x => if (Files.isRegularFile(x)) n += Files.size(x))
      n
    }
}
