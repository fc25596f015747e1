package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One traced interval. Times are epoch nanoseconds (wall clock), so spans
  * from the benchmark, from query progress and from the Spark listener share
  * one axis. `layer` is the module the interval belongs to. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans stay in memory and are written once at the end.
  * With tracing off, `span` only runs its body. While a span's body runs the
  * span id is the SparkContext local property [[Tracer.SpanKey]], so Spark
  * jobs (and streaming queries started inside it) name their parent. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile var sc: SparkContext = _
  /** Nanoseconds spent inside the recorder itself (tracing overhead). */
  val hookNs = new AtomicLong(0)

  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = baseNs + System.nanoTime()

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) done.add(s)
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Phase-level spans also print their duration to stderr. */
  private def logged(name: String): Boolean =
    Seq("phase.", "setup.", "check.", "baseline.", "build.", "tail.drain", "StreamMain.run", "sources.scan", "expr.transform").exists(name.startsWith)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) {
      if (!logged(name)) body
      else {
        val t0 = System.nanoTime()
        try body finally System.err.println(f"[graftbench] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    } else {
      val h0 = System.nanoTime()
      val id = newId()
      val parent = current
      val prevProp = Option(sc).map(_.getLocalProperty(Tracer.SpanKey)).orNull
      stack.set(id :: stack.get)
      Option(sc).foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val start = nowNs
      hookNs.addAndGet(System.nanoTime() - h0)
      try body
      finally {
        val h1 = System.nanoTime()
        val end = nowNs
        add(Span(id, parent, name, layer, start, end))
        if (logged(name)) System.err.println(f"[graftbench] $name ${(end - start) / 1e9}%.3f s")
        stack.set(stack.get.tail)
        Option(sc).foreach(_.setLocalProperty(Tracer.SpanKey, prevProp))
        hookNs.addAndGet(System.nanoTime() - h1)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  def writeJsonLines(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(s => (s.startNs, s.id)).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
}

/** Everything one Spark job did, attributed to the span that was active
  * when it was submitted (and to a micro-batch when a stream ran it). */
final case class JobRec(jobId: Int, span: Long, queryId: String, batchId: Long,
    startMs: Long, endMs: Long, var tasks: Int = 0, var cpuNs: Long = 0L,
    var shuffleWrite: Long = 0L, var spill: Long = 0L, var gcMs: Long = 0L)

/** Spark listener collecting job intervals and per-task counters. */
final class JobListener extends SparkListener {
  /** Nanoseconds spent inside the handlers (tracing overhead). */
  val hookNs = new AtomicLong(0)
  private def hook[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally hookNs.addAndGet(System.nanoTime() - t0)
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val pending = mutable.Map[Int, (Long, String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = hook(synchronized {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    pending(e.jobId) = (prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop(Tracer.QueryIdKey).orNull,
      prop(Tracer.BatchIdKey).map(_.toLong).getOrElse(-1L), e.time)
  })
  override def onJobEnd(e: SparkListenerJobEnd): Unit = hook(synchronized {
    pending.remove(e.jobId).foreach { case (span, q, b, t0) =>
      jobs(e.jobId) = JobRec(e.jobId, span, q, b, t0, e.time)
    }
  })
  private val taskAcc = mutable.Map[Int, JobRec]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = hook(synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val r = taskAcc.getOrElseUpdate(j, JobRec(j, 0, null, -1, 0, 0))
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.gcMs += m.jvmGCTime
      }
    }
  })

  /** Finished jobs with their task counters folded in. */
  def snapshot(): Seq[JobRec] = synchronized {
    jobs.values.toSeq.map { j =>
      taskAcc.get(j.jobId).foreach { t =>
        j.tasks = t.tasks; j.cpuNs = t.cpuNs; j.shuffleWrite = t.shuffleWrite
        j.spill = t.spill; j.gcMs = t.gcMs
      }
      j
    }
  }
}

/** One micro-batch as its progress event reports it. */
final case class BatchRec(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long],
    startOffsets: Map[String, Long], endOffsets: Map[String, Long]) {
  /** Records the batch consumed, from its offsets (progress row counts
    * repeat for every action a sink runs on the batch). */
  def rows: Long = endOffsets.map { case (sh, e) => e - startOffsets.getOrElse(sh, 0L) }.sum
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Streaming listener: query start/termination instants and every
  * progress event, per query. */
final class ProgressListener extends StreamingQueryListener {
  val started = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  val terminated = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  private def offsets(json: String): Map[String, Long] =
    if (json == null || json == "null" || json.isEmpty) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.put(e.id.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    batches.add(BatchRec(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      src.map(s => offsets(s.startOffset)).getOrElse(Map.empty),
      src.map(s => offsets(s.endOffset)).getOrElse(Map.empty)))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated.put(e.id.toString, System.currentTimeMillis())

  /** Batches of one query that consumed input, in batch order. */
  def batchesOf(queryId: String): Seq[BatchRec] =
    batches.asScala.toSeq.filter(b => b.queryId == queryId && b.rows > 0)
      .sortBy(_.batchId)
}
