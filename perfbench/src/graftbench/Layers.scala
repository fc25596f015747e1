package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, derived from the recorded spans, the
  * micro-batch progress events and the Spark job listener. Every workload
  * reports every name; a layer a workload does not exercise reads 0. */
object Layers {

  val Phases = Seq("setup", "catchup", "tail", "read", "curate")
  val CurateEntries: Seq[String] = CurationWorkload.DocBuilds ++ CurationWorkload.VecBuilds
  private val LayerNames = Seq("sources", "expr", "streaming", "ops_lake", "ops_curation", "spark", "bench")

  private def sparkNames(p: String): Seq[(String, String)] = Seq(
    s"spark.$p.jobs" -> "count", s"spark.$p.tasks" -> "count",
    s"spark.$p.task_cpu_s" -> "s", s"spark.$p.driver_gap_s" -> "s",
    s"spark.$p.shuffle_write_bytes" -> "bytes", s"spark.$p.spill_bytes" -> "bytes",
    s"spark.$p.gc_s" -> "s")

  /** (name, unit) of every per-layer metric, in report order
    * (BENCHMARK.json's `per_layer` lists exactly these). */
  val Names: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.generate_s" -> "s", "setup.warmup_s" -> "s",
    "sources.latest_offset_ms" -> "ms", "sources.scan_ms" -> "ms", "sources.records" -> "count",
    "sources.tail_lag_p99_records" -> "count", "bench.gen_late_p99_ms" -> "ms",
    "expr.transform_ms" -> "ms", "expr.pass_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.checkpoint_ms" -> "ms",
    "streaming.sink_parallelism" -> "ratio", "streaming.report_s" -> "s",
    "streaming.fresh_p50_ms" -> "ms", "streaming.fresh_p90_ms" -> "ms",
    "streaming.fresh_p99_ms" -> "ms",
    "ops.lake.commits" -> "count", "ops.lake.versions" -> "count",
    "ops.lake.jobs_per_commit" -> "count", "ops.lake.driver_gap_per_commit_ms" -> "ms",
    "ops.lake.task_cpu_per_commit_ms" -> "ms", "ops.lake.shuffle_bytes_per_commit" -> "bytes",
    "ops.lake.files_live" -> "count", "ops.lake.space_amp" -> "ratio",
    "ops.lake.read.p50_ms" -> "ms", "ops.lake.read.max_ms" -> "ms",
    "ops.lake.read.latest.p50_ms" -> "ms", "ops.lake.read.travel.p50_ms" -> "ms",
    "ops.lake.read.feed.p50_ms" -> "ms", "ops.lake.read.as_of.p50_ms" -> "ms",
    "ops.lake.read.jobs_per_read" -> "count", "ops.lake.read.driver_gap_ms" -> "ms") ++
    CurateEntries.flatMap(e => Seq(s"ops.curate.$e.s" -> "s", s"ops.curate.$e.jobs" -> "count",
      s"ops.curate.$e.task_cpu_s" -> "s", s"ops.curate.$e.driver_gap_s" -> "s",
      s"ops.curate.$e.shuffle_bytes" -> "bytes")) ++
    Seq("ops.curate.dedup_recall" -> "ratio", "ops.curate.ann_recall3" -> "ratio") ++
    Phases.flatMap(sparkNames) ++
    LayerNames.map(l => s"layer.$l.self_ms" -> "ms") ++
    Seq("jvm.live_heap_mb" -> "MB", "jvm.peak_rss_mb" -> "MB",
      "baseline.local1_bulk_s" -> "s", "trace.bulk_s" -> "s",
      "trace.spans" -> "count", "trace.hook_ms" -> "ms", "trace.overhead_frac" -> "ratio")

  private val BatchPhases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "streaming", "queryPlanning" -> "streaming", "addBatch" -> "streaming",
    "commitOffsets" -> "streaming")

  private val ms2ns = 1000000L

  /** Add a span per micro-batch, with its progress phases as children laid
    * end to end in execution order. */
  def batchSpans(ctx: Ctx, batches: Seq[BatchRec]): Unit = if (ctx.tracer.enabled) {
    val t = ctx.tracer
    batches.foreach { b =>
      val id = t.newId()
      t.add(Span(id, -1, s"microbatch:${b.queryId}:${b.batchId}", "streaming",
        b.startMs * ms2ns, b.endMs * ms2ns))
      var at = b.startMs
      BatchPhases.foreach { case (p, layer) =>
        val d = b.durations.getOrElse(p, 0L)
        t.add(Span(t.newId(), id, s"batch.$p:${b.queryId}:${b.batchId}", layer,
          at * ms2ns, (at + d) * ms2ns))
        at += d
      }
    }
  }

  /** Length of the union of intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The per-layer metrics, and every span (benchmark, micro-batch and job
    * spans, parents resolved) for the span file. */
  def report(ctx: Ctx): (Seq[(String, Metric)], Seq[Span]) = {
    val t = ctx.tracer
    val L = ctx.layer
    val jobs = ctx.jobListeners.toSeq.flatMap(_.snapshot())
    val spans0 = t.spans
    // micro-batch spans hang under the smallest benchmark span holding them
    val own = spans0.filter(s => s.parent >= 0 && s.layer != "spark" && !s.name.startsWith("batch."))
    val fixed = spans0.map { s =>
      if (s.parent != -1) s
      else {
        val holder = own.filter(o => o.startNs <= s.startNs + ms2ns && o.endNs + ms2ns >= s.endNs &&
          !o.name.startsWith("microbatch")).sortBy(o => o.endNs - o.startNs).headOption
        s.copy(parent = holder.map(_.id).getOrElse(0L))
      }
    }
    val addBatchOf = fixed.filter(_.name.startsWith("batch.addBatch:")).map { s =>
      val Array(_, q, b) = s.name.split(":"); (q, b.toLong) -> s
    }.toMap
    val jobSpans = jobs.map { j =>
      val parent = Option(j.queryId).flatMap(q => addBatchOf.get((q, j.batchId))).map(_.id)
        .getOrElse(j.span)
      j -> Span(t.newId(), parent, s"job:${j.jobId}", "spark", j.startMs * ms2ns, j.endMs * ms2ns)
    }
    val spans = fixed ++ jobSpans.map(_._2)
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)

    // self time per layer
    LayerNames.foreach(l => L(s"layer.$l.self_ms") = 0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.id != s.id)
      val self = math.max(0.0, s.ms - kids.map(_.ms).sum)
      L(s"layer.${s.layer}.self_ms") = L.getOrElse(s"layer.${s.layer}.self_ms", 0.0) + self
    }

    def ancestors(id: Long): List[Span] = {
      val out = mutable.ListBuffer[Span]()
      var cur = byId.get(id)
      var guard = 0
      while (cur.isDefined && guard < 64) { out += cur.get; cur = byId.get(cur.get.parent); guard += 1 }
      out.toList
    }
    def phaseOf(js: Span): Option[String] = ancestors(js.parent).collectFirst {
      case s if s.name.startsWith("phase.") => s.name.stripPrefix("phase.")
      case s if s.name.startsWith("setup.rep") => "setup"
    }
    def under(js: Span, pred: Span => Boolean): Option[Span] = ancestors(js.parent).find(pred)

    // Spark counters per phase; driver gap = phase wall minus its jobs' union
    Phases.foreach { p =>
      val js = jobSpans.filter { case (_, s) => phaseOf(s).contains(p) }.map(_._1)
      val wall = spans.filter(s => s.name == s"phase.$p" || (p == "setup" && s.name.startsWith("setup.rep")))
        .map(_.ms).sum
      L(s"spark.$p.jobs") = js.size
      L(s"spark.$p.tasks") = js.map(_.tasks).sum
      L(s"spark.$p.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
      L(s"spark.$p.driver_gap_s") = math.max(0.0, wall - unionMs(js.map(j => (j.startMs, j.endMs)))) / 1e3
      L(s"spark.$p.shuffle_write_bytes") = js.map(_.shuffleWrite).sum
      L(s"spark.$p.spill_bytes") = js.map(_.spill).sum
      L(s"spark.$p.gc_s") = js.map(_.gcMs).sum / 1e3
    }

    // micro-batch sinks: lake commits and the sink's parallelism
    val measuredQueries = spans.filter(s => s.name.startsWith("microbatch:") &&
      ancestors(s.parent).exists(a => a.name == "phase.catchup" || a.name == "phase.tail"))
    val addBatches = measuredQueries.flatMap(m => children.getOrElse(m.id, Nil)
      .filter(_.name.startsWith("batch.addBatch:")))
    val batchJobs = addBatches.map(a => a -> jobSpans.filter(_._2.parent == a.id).map(_._1))
    val addMs = addBatches.map(_.ms).sum
    val cpuMs = batchJobs.flatMap(_._2).map(_.cpuNs).sum / 1e6
    L("streaming.sink_parallelism") = if (addMs > 0) cpuMs / addMs else 0.0
    if (L.getOrElse("ops.lake.versions", 0.0) > 0) {
      val commits = addBatches.size
      L("ops.lake.commits") = commits
      L("ops.lake.jobs_per_commit") = batchJobs.map(_._2.size).sum.toDouble / commits
      L("ops.lake.driver_gap_per_commit_ms") = batchJobs.map { case (a, js) =>
        math.max(0.0, a.ms - unionMs(js.map(j => (j.startMs, j.endMs))))
      }.sum / commits
      L("ops.lake.task_cpu_per_commit_ms") = cpuMs / commits
      L("ops.lake.shuffle_bytes_per_commit") = batchJobs.flatMap(_._2).map(_.shuffleWrite).sum.toDouble / commits
    }

    // lake reads
    val reads = spans.filter(s => s.name.startsWith("read.") && s.layer == "ops_lake")
    if (reads.nonEmpty) {
      val rj = reads.map(r => r -> jobSpans.filter { case (_, s) => under(s, _.id == r.id).isDefined }.map(_._1))
      L("ops.lake.read.jobs_per_read") = rj.map(_._2.size).sum.toDouble / reads.size
      L("ops.lake.read.driver_gap_ms") = rj.map { case (r, js) =>
        math.max(0.0, r.ms - unionMs(js.map(j => (j.startMs, j.endMs))))
      }.sum / reads.size
    }

    // curation builds: per-pass means over the passes of the run
    CurateEntries.foreach { e =>
      val bs = spans.filter(_.name == s"build.$e")
      if (bs.nonEmpty) {
        val bj = bs.map(b => b -> jobSpans.filter { case (_, s) => under(s, _.id == b.id).isDefined }.map(_._1))
        val n = bs.size.toDouble
        L(s"ops.curate.$e.s") = Stats.median(bs.map(_.ms / 1e3))
        L(s"ops.curate.$e.jobs") = bj.map(_._2.size).sum / n
        L(s"ops.curate.$e.task_cpu_s") = bj.flatMap(_._2).map(_.cpuNs).sum / 1e9 / n
        L(s"ops.curate.$e.driver_gap_s") = bj.map { case (b, js) =>
          math.max(0.0, b.ms - unionMs(js.map(j => (j.startMs, j.endMs))))
        }.sum / 1e3 / n
        L(s"ops.curate.$e.shuffle_bytes") = bj.flatMap(_._2).map(_.shuffleWrite).sum / n
      }
    }

    val wallMs = spans.filter(_.parent == 0).map(_.ms).sum
    L("trace.spans") = spans.size
    L("trace.hook_ms") = (t.hookNs.get + ctx.jobListeners.map(_.hookNs.get).sum) / 1e6
    L("trace.overhead_frac") = if (wallMs > 0) L("trace.hook_ms") / wallMs else 0.0
    (Names.map { case (n, u) => n -> Metric(L.getOrElse(n, 0.0), u) }, spans)
  }
}
