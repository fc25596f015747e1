package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth

/** MOR auto-compaction must bound the descriptor WITHOUT putting an
  * O(table) rewrite on the unlucky triggering commit (round-13 "Next
  * round" #2 + advisory #4): the round-13 trigger ran
  * `compactMor(maxFiles = 0)` — a full-table fold — synchronously inside
  * `commitAppend`, so one caller in every ~autoCompactBound absorbed a
  * latency spike that grew with table size. The scoped fold
  * ([[MorTableImpl.compactOverFairShare]]) rewrites only the
  * over-represented buckets (the descriptor collapses to 2 rows on ANY
  * committed fold, via the carried-row consolidation), so the trigger's
  * cost is O(churn since the last fold).
  *
  * Measured contract over 220 single-writer trickle deltas:
  *  - p99 per-commit wall time within 3× of p50 (the TAIL, not the
  *    median — ~14 of the 220 commits are triggers, so p99 IS a
  *    triggering commit and a full-table fold would fail this);
  *  - the descriptor never exceeds autoCompactBound at any commit return
  *    (the bound the trigger exists to enforce);
  *  - final state still equals a one-shot replay (scoping the fold must
  *    not lose rows — tombstones and untouched buckets carry forward).
  *
  * The wall-clock ratio moves with host load (measured 2.6x–4.5x), so a
  * companion check counts what contention cannot skew: the Spark jobs and
  * task output bytes of every commit, read through a listener and drained
  * once after the loop. The costliest triggering commit stays within a
  * fixed multiple of the median commit.
  */
class MorAutoCompactLatencySpec extends SparkSpec {
  import spark.implicits._

  private val NB = 4 // bound = max(16, 4*4) = 16

  private def batch(i: Long): DataFrame =
    CdcSynth.envelope(Seq((8L * (i + 1), i % 37))
      .toDF("event_id", "user_id")
      .withColumn("event_type", concat(lit("t"), pmod(col("user_id"), lit(3L))))
      .withColumn("value", col("event_id").cast("double") / 4.0)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("event_id")))
      .withColumn("props", concat(lit("{\"k\":"), col("user_id") * 7L, lit("}"))))

  test("220 trickle deltas: p99 within 3x of p50, descriptor bounded at every return, replay-equal") {
    val root = java.nio.file.Files.createTempDirectory("mor_autoc_p99").toString
    val bound = MorTableImpl.autoCompactBound(NB)
    // WARM-UP outside the measured window (the Bench.scala discipline):
    // the first commits pay session/codegen JIT and the first fold pays
    // classloading for the whole compaction path — startup constants, not
    // the table-age behavior under test. The warm-up spans one full
    // trigger cycle so the measured window starts in steady state.
    val W = 30
    val N = 220
    val batches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    (0 until W).foreach { i =>
      val b = batch(1000L + i) // ids disjoint from the measured window
      batches += b
      MorTableImpl.commitAppend(spark, root, b, NB)
    }
    val nanos = new Array[Long](N)
    // each commit's [start, end] in epoch ms: a Spark job belongs to the
    // commit whose window holds its start time. The per-commit checks run
    // their jobs under CheckTag and are left out. Nothing in the loop waits
    // on the listener bus, so the timed commits run as they would unwatched.
    val windows = new Array[(Long, Long)](N)
    val trig = new Array[Boolean](N)
    var triggers = 0
    val CheckTag = "graft.test.check"
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int])]()
    val stageBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).exists(_.getProperty(CheckTag) != null))
          jobStarts.add((e.time, e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          stageBytes.merge(e.stageId, m.outputMetrics.bytesWritten, (a: Long, b: Long) => a + b))
    }
    spark.sparkContext.addSparkListener(listener)
    try (0 until N).foreach { i =>
      val b = batch(i.toLong)
      batches += b
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val v = MorTableImpl.commitAppend(spark, root, b, NB)
      nanos(i) = System.nanoTime() - t0
      windows(i) = (w0, System.currentTimeMillis())
      spark.sparkContext.setLocalProperty(CheckTag, "1")
      try {
        val cur = VersionedTableImpl.currentVersion(spark, root)
        if (cur > v) { triggers += 1; trig(i) = true } // the fold committed its own version
        val rows = VersionedTableImpl.descriptorDf(spark, root, cur).count()
        assert(rows <= bound,
          s"descriptor $rows rows > bound $bound after commit ${i + 1}")
      } finally spark.sparkContext.setLocalProperty(CheckTag, null)
    } finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val commitJobs = (0 until N).map { i =>
      val (w0, w1) = windows(i)
      jobStarts.asScala.toSeq.filter { case (t, _) => t >= w0 && t <= w1 }.map(_._2)
    }
    val jobs = commitJobs.map(_.size.toLong)
    val bytes = commitJobs.map(_.flatten.map(st => stageBytes.getOrDefault(st, 0L)).sum)
    assert(triggers >= (N - 20) / (bound + 1),
      s"auto-compaction should have triggered ~N/bound times, saw $triggers")

    val sorted = nanos.sorted
    val p50 = sorted(N / 2) / 1e6
    val p99 = sorted((N * 99) / 100) / 1e6
    info(f"per-commit wall: p50 $p50%.0f ms, p99 $p99%.0f ms over $N commits ($triggers auto-folds)")
    info("slowest: " + nanos.zipWithIndex.sortBy(-_._1).take(8)
      .map { case (n, i) => f"#$i ${n / 1e6}%.0f ms" }.mkString(", "))
    // companion check on counters host load cannot move
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val medJobs = median(jobs)
    val medBytes = median(bytes)
    val trigIdx = (0 until N).filter(trig)
    val maxTrigJobs = trigIdx.map(jobs).max
    val maxTrigBytes = trigIdx.map(bytes).max
    info(s"per-commit Spark jobs: median $medJobs, triggering max $maxTrigJobs; " +
      s"task output bytes: median $medBytes, triggering max $maxTrigBytes")
    info("triggering commits (jobs/bytes): " +
      trigIdx.map(i => s"#$i ${jobs(i)}/${bytes(i)}").mkString(", "))
    // measured: median 2 jobs / 1.8 KB, every trigger 5 jobs / 6.0 KB (the
    // delta plus the over-represented buckets' base files)
    assert(maxTrigJobs <= 3 * medJobs,
      s"a triggering commit ran $maxTrigJobs Spark jobs, median commit $medJobs")
    assert(maxTrigBytes <= 4 * medBytes,
      s"a triggering commit wrote $maxTrigBytes bytes, median commit $medBytes")

    assert(p99 <= 3.0 * p50,
      f"auto-compaction still spikes the triggering commit: p50 $p50%.0f ms, p99 $p99%.0f ms")

    // scoping the fold must not change state: == one-shot replay
    def stateSet(df: DataFrame) =
      df.select(col("user_id"), col("last_seq"), col("value"))
        .as[(Long, String, Double)].collect().toSet
    val replayRoot = java.nio.file.Files.createTempDirectory("mor_autoc_rp").toString
    MorTableImpl.commitAppend(spark, replayRoot,
      batches.reduce(_ unionByName _), NB)
    val cur = VersionedTableImpl.currentVersion(spark, root)
    assert(stateSet(MorTableImpl.readMor(spark, root, cur)) ==
      stateSet(MorTableImpl.readMor(spark, replayRoot, 1)),
      "scoped auto-folds diverged from the one-shot replay")
  }
}
