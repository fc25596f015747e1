package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.StreamMain
import graft.cdc.CdcSynth
import graft.config.GraftConfig
import graft.ops.VersionedTableImpl
import graft.sources.{InMemoryStreamClient, ShardLog}
import graft.streaming.{LakehouseSink, Pipeline}

/** Shape of the CDC workload. `TailRate` is the generator's fixed append
  * rate in records/s: about a third of the catch-up rate on a 4-core box,
  * so the tail stays below saturation when the box is slow. */
object CdcSpec {
  val Name = "cdc_lake"
  val Backlog = 10000
  val MaxPerBatch = 5000
  val WarmRecords = 1000
  val TailRate = 500
  val TriggerMs = 1000
  val Reads = 4
  val BacklogSpanMs: Long = 3 * 3600 * 1000L
  val Buckets = 8
  val CompactOver = 4
  /** Keeps deletes and TTL expiries (no new image) and upserts whose value
    * is at least 25; [[Checks.passesFilter]] is the benchmark's own copy. */
  val Filter = "newImage.value == null || newImage.value >= 25"

  /** Zipf-skewed keys over a table larger than a batch. */
  def keys(): Keys = new ZipfKeys(20000, 1.0)

  def hocon(maxPerBatch: Int): String =
    s"""keyspaces-cdc-streams {
       |  stream {
       |    source = shardlog
       |    source-max-records-per-batch = $maxPerBatch
       |    filter-expression = "$Filter"
       |    connector {
       |      sink = lakehouse-versioned
       |      partition-keys = user_id
       |      record-format = full
       |      lakehouse-buckets = $Buckets
       |      compact-over-files = $CompactOver
       |      emit-feed = true
       |    }
       |  }
       |}
       |""".stripMargin
}

/** The CDC workload: set-up, catch-up drain through `StreamMain.run`, a
  * live tail at a fixed rate through the `InMemoryStreamClient` seam, then
  * a closed-loop read phase; every output is checked at the end. */
final class CdcWorkload extends Workload {
  import CdcSpec._

  private val SetupReps = 3

  def run(ctx: Ctx): Seq[(String, Metric)] = {
    val t = ctx.tracer
    val L = ctx.layer
    val jvmBoot = Ctx.sinceJvmStart()
    val confPath = ctx.work.resolve("stream.conf")
    Files.createDirectories(ctx.work)
    Files.write(confPath, hocon(MaxPerBatch).getBytes(StandardCharsets.UTF_8))
    val backlogDir = ctx.work.resolve("backlog")
    val clock0 = CdcGen.clockStart(ctx.seed)

    // ---- set-up, repeated; the median repetition is the set-up time
    var gen: CdcGen = null
    var backlog: Vector[Change] = null
    val reps = (0 until SetupReps).map { i =>
      t.span(s"setup.rep$i", "bench") {
        val (_, session) = ctx.timed(t.span("setup.session", "bench")(ctx.newSession()))
        val (_, generate) = ctx.timed(t.span("setup.generate", "bench") {
          gen = new CdcGen(ctx.seed, keys())
          backlog = gen.batch(Backlog, clock0, BacklogSpanMs)
          Files2.deleteTree(backlogDir)
          CdcGen.writeShardLog(backlogDir, backlog)
        })
        val (_, warm) = ctx.timed(t.span("setup.warmup", "bench") {
          val warmDir = ctx.work.resolve(s"warm$i")
          val wg = new CdcGen(ctx.seed + 1000 + i, keys())
          CdcGen.writeShardLog(warmDir.resolve("log"),
            wg.batch(WarmRecords, clock0 - 3600000L, 600000L))
          StreamMain.run(ctx.spark, confPath.toString, warmDir.resolve("log").toString,
            warmDir.resolve("out").toString)
          Files2.deleteTree(warmDir)
        })
        (session, generate, warm)
      }
    }
    val setupS = jvmBoot + Stats.median(reps.map(r => r._1 + r._2 + r._3))
    L("setup.session_s") = Stats.median(reps.map(_._1))
    L("setup.generate_s") = Stats.median(reps.map(_._2))
    L("setup.warmup_s") = Stats.median(reps.map(_._3))
    val spark = ctx.spark
    val out = ctx.work.resolve("out")

    // ---- catch-up: drain the backlog from TRIM_HORIZON (AvailableNow)
    val before = ctx.progress.started.keySet().toArray.toSet
    t.span("phase.catchup", "bench") {
      t.span("StreamMain.run", "streaming") {
        StreamMain.run(spark, confPath.toString, backlogDir.toString, out.toString)
      }
    }
    val runEndMs = System.currentTimeMillis()
    val catchupId = (ctx.progress.started.keySet().toArray.toSet -- before).head.toString
    awaitTerminated(ctx, catchupId)
    val catchupBatches = ctx.progress.batchesOf(catchupId)
    // query start -> end of its last batch, both from the query's own events
    val catchupStart = ctx.progress.started.get(catchupId)
    val catchupMs = catchupBatches.map(_.endMs).max - catchupStart
    L("trace.bulk_s") = catchupMs / 1000.0
    System.err.println(s"[graftbench] catch-up ${catchupMs} ms over ${catchupBatches.size} batches: " +
      catchupBatches.map(b => s"${b.durations.getOrElse("triggerExecution", 0L)}" +
        s"(lo ${b.durations.getOrElse("latestOffset", 0L)} add ${b.durations.getOrElse("addBatch", 0L)})").mkString(" "))
    ctx.op(catchupBatches.size)
    L("streaming.report_s") = (runEndMs - ctx.progress.terminated.get(catchupId)) / 1000.0

    // ---- tail: open-loop generator into the registered in-memory client
    val settings = GraftConfig.connector(GraftConfig.load(confPath.toString))
    // a quarter second of records primes the new query before the timed
    // schedule starts, so every timed batch is a steady-state one
    val primed = TailRate / 4
    val n = TailRate * ctx.seconds
    val tailClock = clock0 + BacklogSpanMs
    val offsets = Array.tabulate(n)(j => ((j * 1000L / TailRate) + 9) / 10 * 10)
    val tail = Vector.fill(primed)(gen.next(tailClock)) ++
      Vector.tabulate(n)(j => gen.next(tailClock + 1000 + offsets(j)))
    val client = new InMemoryStreamClient(pageCap = 1 << 20)
    (0 until Change.Shards).foreach(i => client.createShard(Change.shardOf(i)))
    val clientKey = s"graftbench-${ctx.seed}-${System.nanoTime()}"
    InMemoryStreamClient.register(clientKey, client)
    // position of each record in its shard -> index into `tail`
    val perShard = mutable.Map[String, mutable.ArrayBuffer[Int]]()
    def append(idx: Seq[Int]): Unit = idx.groupBy(i => tail(i).shard).foreach { case (sh, is) =>
      client.append(sh, is.map(i => Change.streamRecord(tail(i))))
      perShard.getOrElseUpdate(sh, mutable.ArrayBuffer()) ++= is
    }
    // scheduled and actual append instants of the timed records (primed: -1)
    val sched = Array.fill(tail.size)(-1L)
    val appendMs = Array.fill(tail.size)(-1L)
    val query = t.span("phase.tail", "bench") {
      val query = t.span("tail.start", "streaming")(startTail(ctx, settings, clientKey, out))
      t.span("tail.prime", "streaming") {
        append(0 until primed)
        query.processAllAvailable()
      }
      // start on the trigger grid, so runs see the same schedule phase
      val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + TriggerMs / 2
      var j = 0
      t.span("tail.generate", "bench") {
        while (j < n) {
          val wait = t0 + offsets(j) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val now = System.currentTimeMillis()
          val from = j
          while (j < n && t0 + offsets(j) <= now) j += 1
          append((from until j).map(_ + primed))
          val done = System.currentTimeMillis()
          (from until j).foreach { i => sched(i + primed) = t0 + offsets(i); appendMs(i + primed) = done }
        }
      }
      t.span("tail.drain", "streaming")(query.processAllAvailable())
      query.stop()
      query
    }
    val tailId = query.id.toString
    awaitTerminated(ctx, tailId)
    val tailBatches = ctx.progress.batchesOf(tailId)
    ctx.op(tailBatches.size)
    val fresh = mutable.ArrayBuffer[Double]()
    val lag = mutable.ArrayBuffer[Double]()
    tailBatches.foreach { b =>
      b.endOffsets.foreach { case (sh, to) =>
        val from = b.startOffsets.getOrElse(sh, 0L)
        val idx = perShard.getOrElse(sh, mutable.ArrayBuffer())
        (from until math.min(to, idx.size.toLong)).map(p => sched(idx(p.toInt))).filter(_ >= 0)
          .foreach(due => fresh += (b.endMs - due).toDouble)
      }
      val due = sched.count(d => d >= 0 && d <= b.endMs) + primed
      lag += (due - b.endOffsets.values.sum).toDouble
    }
    ctx.check("tail.timed", if (fresh.size == n) Nil
      else Seq(s"${fresh.size} of $n timed tail records were consumed by a batch"))
    val late = (primed until tail.size).map(i => (appendMs(i) - sched(i)).toDouble)
    // freshness counts from the scheduled instant, so lateness is charged to
    // the run; the run is invalid only when the generator fell behind by a
    // tenth of a trigger interval, enough to move records to a later batch
    val lateP99 = Stats.percentile(late, 99, 10)
    ctx.check("tail.generator_on_time", if (lateP99 <= TriggerMs / 10) Nil
      else Seq(f"generator ran late: p99 $lateP99%.0f ms > ${TriggerMs / 10} ms"))
    L("bench.gen_late_p99_ms") = lateP99
    L("sources.tail_lag_p99_records") = Stats.percentile(lag.toSeq, 99)
    L("streaming.fresh_p50_ms") = Stats.percentile(fresh.toSeq, 50)
    L("streaming.fresh_p90_ms") = Stats.percentile(fresh.toSeq, 90, 10)
    L("streaming.fresh_p99_ms") = Stats.percentile(fresh.toSeq, 99, 10)
    val allBatches = catchupBatches ++ tailBatches
    L("streaming.batches") = allBatches.size
    L("streaming.batch_p50_ms") = Stats.median(allBatches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
    L("streaming.add_batch_ms") = allBatches.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble
    L("streaming.checkpoint_ms") = allBatches.map(b =>
      b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).sum.toDouble
    L("sources.latest_offset_ms") = allBatches.map(_.durations.getOrElse("latestOffset", 0L)).sum.toDouble
    // how far the source's offsets advanced; a record lost inside an
    // advanced range shows in the lake history check instead
    val covered = allBatches.map(_.rows).sum
    L("sources.records") = covered.toDouble
    ctx.check("sources.records", if (covered == Backlog + tail.size) Nil
      else Seq(s"source offsets covered $covered records, generated ${Backlog + tail.size}"))
    Layers.batchSpans(ctx, allBatches)

    // ---- read phase: one closed-loop client on the table just left
    lakeReads(ctx, out.resolve("vtable"), backlog, tail, perShard,
      catchupBatches, tailBatches, catchupStart, System.currentTimeMillis())

    if (t.enabled) traced(ctx, backlogDir, backlog, out)
    Files2.deleteTree(out)
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "bulk_s" -> Metric(L("trace.bulk_s"), "s"),
      "fresh_p50_ms" -> Metric(L("streaming.fresh_p50_ms"), "ms"),
      "fresh_p99_ms" -> Metric(L("streaming.fresh_p99_ms"), "ms"))
  }

  private def awaitTerminated(ctx: Ctx, id: String): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!ctx.progress.terminated.containsKey(id) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    require(ctx.progress.terminated.containsKey(id), s"query $id never reported termination")
  }

  /** The tail query: `Pipeline.transform` into `LakehouseSink.versionedSink`,
    * wired with the arguments `StreamMain` uses for `lakehouse-versioned`. */
  private[graftbench] def startTail(ctx: Ctx, settings: GraftConfig.ConnectorSettings,
      clientKey: String, out: Path): StreamingQuery = {
    val raw = ctx.spark.readStream.format("shardlog").option("client", clientKey)
      .option("maxRecordsPerBatch", MaxPerBatch.toString).load()
    val env = ShardLog.envelope(raw, "media", "events", CdcSynth.imageSchema)
    LakehouseSink.versionedSink(Pipeline.transform(env, settings, CdcSynth.imageSchema),
      out.resolve("vtable").toString, out.resolve("tail-checkpoint").toString, Buckets,
      Some(CompactOver), emitFeed = true, trigger = Trigger.ProcessingTime(TriggerMs.toLong))
  }

  /** Changes a batch consumed, per its start/end shard offsets. */
  private def batchChanges(b: BatchRec, byShard: Map[String, IndexedSeq[Change]]): Seq[Change] =
    b.endOffsets.toSeq.sortBy(_._1).flatMap { case (sh, to) =>
      val from = b.startOffsets.getOrElse(sh, 0L)
      byShard.getOrElse(sh, IndexedSeq()).slice(from.toInt, to.toInt)
    }

  private def lakeReads(ctx: Ctx, root: Path, backlog: Vector[Change], tail: Vector[Change],
      tailShards: mutable.Map[String, mutable.ArrayBuffer[Int]],
      catchup: Seq[BatchRec], tailBatches: Seq[BatchRec], t0: Long, t1: Long): Unit = {
    val t = ctx.tracer
    val L = ctx.layer
    val spark = ctx.spark
    val rootS = root.toString
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919)
    val latest = VersionedTableImpl.currentVersion(spark, rootS)
    def fpOf(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      Checks.fingerprint(df.select("user_id", "last_seq").collect().iterator
        .map(r => (r.getLong(0), r.getString(1))))
    // one read = the call plus full materialization of its rows
    val kinds = Seq("latest", "travel", "feed", "as_of")
    val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val readFps = mutable.ArrayBuffer[(Int, (Long, Long))]()
    val feeds = mutable.ArrayBuffer[(Int, Int, Set[(Long, String)])]()
    t.span("phase.read", "bench") {
      (0 until Reads).foreach { i =>
        val kind = kinds(i % kinds.size)
        val t0r = System.nanoTime()
        t.span(s"read.$kind", "ops_lake") {
          kind match {
            case "latest" =>
              val v = VersionedTableImpl.currentVersion(spark, rootS)
              readFps += v -> fpOf(VersionedTableImpl.readVersion(spark, rootS, v))
            case "travel" =>
              val v = 1 + rnd.nextInt(latest)
              readFps += v -> fpOf(VersionedTableImpl.readVersion(spark, rootS, v))
            case "feed" =>
              val a = 1 + rnd.nextInt(latest)
              val b = 1 + rnd.nextInt(latest)
              val (v1, v2) = (math.min(a, b), math.max(a, b))
              val rows = VersionedTableImpl.changeFeed(spark, rootS, v1, v2)
                .select("user_id", "change_op").collect()
              feeds += ((v1, v2, rows.map(r => (r.getLong(0), r.getString(1))).toSet))
            case "as_of" =>
              val ts = t0 + (rnd.nextDouble() * (t1 - t0)).toLong
              val v = VersionedTableImpl.versionAsOf(spark, rootS, ts)
              readFps += v -> fpOf(VersionedTableImpl.readVersion(spark, rootS, v))
          }
        }
        ctx.op()
        lat.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0r) / 1e6
      }
    }
    ctx.sampleLiveHeap()
    val all = lat.values.flatten.toSeq
    L("ops.lake.read.p50_ms") = Stats.percentile(all, 50)
    L("ops.lake.read.max_ms") = all.max
    kinds.foreach(k => L(s"ops.lake.read.$k.p50_ms") = Stats.median(lat(k).toSeq))

    // ---- checks: replay folded by the benchmark, per batch
    t.span("check.lake", "bench") {
      val backlogShards = backlog.groupBy(_.shard).map { case (k, v) => k -> v.sortBy(_.seq) }
      val tailByShard = tailShards.map { case (sh, idx) => sh -> idx.map(tail(_)).toIndexedSeq }.toMap
      val replay = new Checks.Replay
      val states = mutable.ArrayBuffer[Map[Long, Change]](Map.empty)
      val fps = mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
      def fold(cs: Seq[Change]): Unit = {
        cs.filter(Checks.passesFilter).sortBy(_.seq).foreach(replay(_))
        states += replay.snapshot
        fps += Checks.fingerprintOf(replay.live)
      }
      t.span("check.lake.replay", "bench") {
        catchup.foreach(b => fold(batchChanges(b, backlogShards)))
        tailBatches.foreach(b => fold(batchChanges(b, tailByShard)))
      }
      // every version, read from a few driver threads at once (untimed)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
      val versions = t.span("check.lake.versions", "bench") { try {
        (1 to latest).map(v => pool.submit(new java.util.concurrent.Callable[Seq[Checks.Row]] {
          def call(): Seq[Checks.Row] = CdcWorkload.tableRows(spark, rootS, v)
        })).map(_.get())
      } finally pool.shutdown() }
      Checks.matchVersions(versions.map(Checks.fingerprintOf), fps.toSeq) match {
        case Left(p) => ctx.check("lake.history", Seq(p))
        case Right(batchOf) =>
          ctx.check("lake.history", Nil)
          def expected(v: Int): (Long, Long) = if (v == 0) (0L, 0L) else fps(batchOf(v - 1))
          def state(v: Int): Map[Long, Change] = if (v == 0) Map.empty else states(batchOf(v - 1))
          ctx.check("lake.reads", readFps.collect {
            case (v, fp) if fp != expected(v) => s"read of version $v returned ${fp._1} rows, replay has ${expected(v)._1}"
          }.toSeq)
          ctx.check("lake.feed", feeds.collect {
            case (a, b, got) if got != Checks.feedKeys(state(a), state(b)) =>
              s"feed $a..$b has ${got.size} changes, replay has ${Checks.feedKeys(state(a), state(b)).size}"
          }.toSeq)
      }
      ctx.check("lake.latest", Checks.sameRows(versions.lastOption.getOrElse(Nil), replay.live))
      val files = VersionedTableImpl.readVersion(spark, rootS, latest).inputFiles.toSeq
      val liveBytes = files.map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
      L("ops.lake.files_live") = files.size
      L("ops.lake.space_amp") = Files2.sizeOf(root).toDouble / math.max(1L, liveBytes)
      L("ops.lake.versions") = latest
    }
  }

  /** Traced-only passes: a noop-written scan of the backlog through
    * `ShardLog.envelope`, the same through `Pipeline.transform`, and the
    * catch-up drain once more at `local[1]` as the single-thread baseline. */
  private def traced(ctx: Ctx, backlogDir: Path, backlog: Seq[Change], out: Path): Unit = {
    val t = ctx.tracer
    val L = ctx.layer
    val spark = ctx.spark
    val settings = GraftConfig.connector(GraftConfig.load(ctx.work.resolve("stream.conf").toString))
    def env = ShardLog.envelope(spark.read.format("shardlog").option("path", backlogDir.toString).load(),
      "media", "events", CdcSynth.imageSchema)
    def scan(): Unit = env.write.format("noop").mode("overwrite").save()
    def transform(): Unit =
      Pipeline.transform(env, settings, CdcSynth.imageSchema).write.format("noop").mode("overwrite").save()
    // each pass runs once untimed first, so neither timing pays the other's
    // first-run costs
    scan()
    transform()
    val (_, scanS) = ctx.timed(t.span("sources.scan", "sources")(scan()))
    val (_, transformS) = ctx.timed(t.span("expr.transform", "expr")(transform()))
    val passed = Pipeline.transform(env, settings, CdcSynth.imageSchema).count()
    val want = backlog.count(Checks.passesFilter)
    ctx.check("expr.pass_count", if (passed == want) Nil
      else Seq(s"filter passed $passed of ${backlog.size}, expected $want"))
    L("sources.scan_ms") = scanS * 1000
    L("expr.transform_ms") = math.max(0.0, transformS - scanS) * 1000
    L("expr.pass_ratio") = passed.toDouble / backlog.size
    // single-threaded baseline: the same drain at local[1]
    ctx.newSession("local[1]")
    val baseOut = ctx.work.resolve("baseline")
    val before = ctx.progress.started.keySet().toArray.toSet
    t.span("baseline.local1", "bench") {
      StreamMain.run(ctx.spark, ctx.work.resolve("stream.conf").toString, backlogDir.toString, baseOut.toString)
    }
    val id = (ctx.progress.started.keySet().toArray.toSet -- before).head.toString
    awaitTerminated(ctx, id)
    L("baseline.local1_bulk_s") =
      (ctx.progress.batchesOf(id).map(_.endMs).max - ctx.progress.started.get(id)) / 1000.0
    Files2.deleteTree(baseOut)
  }
}

object CdcWorkload {
  /** The versioned table's rows at version `v`, as the read surface shows them. */
  def tableRows(spark: org.apache.spark.sql.SparkSession, root: String, v: Int): Seq[Checks.Row] =
    VersionedTableImpl.readVersion(spark, root, v)
      .select("user_id", "last_op", "last_seq", "event_type", "value", "k").collect()
      .map(r => Checks.Row(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getLong(5))).sortBy(_.key).toSeq
}
