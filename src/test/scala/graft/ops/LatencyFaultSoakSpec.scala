package graft.ops

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth
import graft.fs.FlakyFileSystem

/** LATENCY-axis fault soak (round-14 "Next round" #7): the loss soak
  * proves the protocol survives ops that FAIL; this one proves it
  * survives ops that are merely SLOW — the adversary is the clock. Store
  * ops stall 50–500 ms (half before the effect, half after it: the
  * response-delayed half makes effects visible to racers while the
  * caller still believes its op is in flight), against a staleness
  * window (400 ms) SMALLER than the worst single-op delay, so during the
  * racing bursts claims genuinely age into takeover eligibility while
  * their holders are mid-publish. The contract under timing skew is the
  * same: exactly-once versions, replay-equal state, no strandings, a
  * reader that never errors. Note the quiet convergence is itself the
  * design working: a writer beaten by a takeover RE-MERGES internally
  * (the beaten path) rather than aborting, so loud aborts stay rare —
  * the replay-equality assertion is what proves nothing was lost or
  * doubled through those silent re-bases.
  *
  * Plus the deterministic slow-writer schedule: a writer that stalls
  * past `staleClaimMs` mid-publish and wakes AFTER a takeover winner
  * committed must abort loudly, never clobber; a writer merely slow
  * WITHIN the window must not be taken over at all.
  */
class LatencyFaultSoakSpec extends SparkSpec {
  import spark.implicits._

  private val NB = 4

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flaky.impl", classOf[graft.fs.FlakyFileSystem].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "graft.commit.conditional-create", true)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.hadoopConfiguration.unset("graft.commit.conditional-create")
    super.afterAll()
  }

  private def objRoot(tag: String): (String, String) = {
    val local = java.nio.file.Files.createTempDirectory(s"lsoak_$tag").toString
    (s"flaky:$local", local)
  }

  private val eid = new AtomicLong(1L)

  private def batch(keys: Seq[Long]): DataFrame =
    CdcSynth.envelope(keys.map(k => (8L * eid.getAndIncrement(), k))
      .toDF("event_id", "user_id")
      .withColumn("event_type", concat(lit("t"), pmod(col("user_id"), lit(3L))))
      .withColumn("value", col("event_id").cast("double") / 4.0)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("event_id")))
      .withColumn("props", concat(lit("{\"k\":"), col("user_id") * 7L, lit("}"))))

  private def stateSet(df: DataFrame): Set[(Long, String, Double)] =
    df.select(col("user_id"), col("last_seq"), col("value"))
      .as[(Long, String, Double)].collect().toSet

  /** Under latency injection ops never fail — only the RACES they widen
    * do: lost optimistic attempts and takeover/claim-invariant aborts of
    * a genuinely stalled writer. Those are the loud-abort contract, so
    * the harness retries exactly them (counted); anything else fails the
    * soak. */
  private val loudAborts = new AtomicLong(0L)
  private def retrying[T](what: String)(body: => T): T = {
    var last: Throwable = null
    (1 to 30).foreach { _ =>
      try return body
      catch {
        case t: IllegalStateException
            if t.getMessage != null &&
              (t.getMessage.contains("optimistic attempts") ||
                t.getMessage.contains("claim invariant")) =>
          loudAborts.incrementAndGet()
          last = t
          Thread.sleep(50L)
      }
    }
    throw new IllegalStateException(
      s"$what did not converge under latency injection", last)
  }

  test("90 mixed commits under 50-500 ms store latency and a 400 ms staleness window: exactly-once, replay-equal") {
    val (cowRoot, cowLocal) = objRoot("cow")
    val (epochRoot, _) = objRoot("epoch")
    FlakyFileSystem.disarm() // latency only: no loss faults
    FlakyFileSystem.armLatency(newSeed = 15L, rate = 0.10, minMs = 50, maxMs = 500)
    try {
      val cowBatches = scala.collection.concurrent.TrieMap[Long, DataFrame]()
      val epochBatches = scala.collection.mutable.ArrayBuffer[DataFrame]()
      val cowId = new AtomicLong(0L)
      def commitCow(b: DataFrame): Unit = {
        cowBatches.put(cowId.getAndIncrement(), b)
        retrying("commitCow")(VersionedTableImpl.commitMerge(
          spark, cowRoot, b, NB, maxAttempts = 30, staleClaimMs = 400L))
      }

      val done = new AtomicBoolean(false)
      val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      // loops: every reader iteration; reads: the iterations that read a
      // version (until the first commit lands, a loop only polls an empty
      // table, tens of thousands of times a second)
      val loops = new AtomicLong(0L)
      val reads = new AtomicLong(0L)
      val reader = new Thread(() => {
        try {
          while (!done.get()) {
            val cv = VersionedTableImpl.currentVersion(spark, cowRoot)
            if (cv >= 1) {
              assert(VersionedTableImpl.readVersion(spark, cowRoot, cv).count() >= 0)
              reads.incrementAndGet()
            }
            loops.incrementAndGet()
          }
        } catch { case t: Throwable => readerErr.set(t) }
      }, "latency-soak-reader")
      reader.setDaemon(true)
      reader.start()

      val pool = Executors.newFixedThreadPool(3)
      val N = 90
      try {
        (0 until N).foreach { i =>
          (i % 2: @unchecked) match {
            case 0 => commitCow(batch(Seq((i / 2 % 25).toLong)))
            case 1 =>
              val b = batch(Seq((i / 2 % 15).toLong))
              epochBatches += b
              retrying("epoch")(graft.streaming.LakehouseSink.versionedBatch(
                b, id = i / 2, epochRoot, appId = "lsoak", NB,
                compactOver = None, emitFeed = false))
          }
          if (i % 18 == 9) { // racing burst: the pile-up that ages claims
            val fs = (0 until 3).map { j =>
              pool.submit(new Callable[Unit] {
                def call(): Unit = commitCow(batch(Seq(2000L + 10 * j + i)))
              })
            }
            fs.foreach(_.get(180, TimeUnit.SECONDS))
          }
          if (i % 30 == 29)
            retrying("optimize")(VersionedTableImpl.optimizeTable(spark,
              cowRoot, NB, maxFiles = 4, keepVersions = 30, graceMs = 0L))
        }
      } finally {
        done.set(true)
        pool.shutdown()
        reader.join(30000)
      }
      assert(readerErr.get() == null,
        s"continuous reader failed mid-soak: ${readerErr.get()}")
      assert(reads.get() > 10,
        s"reader must have read versions throughout: ${reads.get()} reads in ${loops.get()} loops")
      val nDelayed = FlakyFileSystem.delayed.get()
      assert(nDelayed > 50,
        s"the harness must actually have injected delays: $nDelayed")
      info(s"injected $nDelayed delays; ${loudAborts.get()} loud aborts " +
        s"retried; ${reads.get()} concurrent version reads in ${loops.get()} reader loops")

      // ---- latency off: the long-haul contract
      FlakyFileSystem.disarmLatency()
      Seq(cowRoot, epochRoot).foreach(r =>
        VersionedTableImpl.sweepStranded(spark, r, olderThanMs = 0L))
      VersionedTableImpl.optimizeTable(spark, cowRoot, NB,
        maxFiles = 1, keepVersions = 1, graceMs = 0L)

      // exactly-once epochs THROUGH the delays: replay is a no-op
      val evBefore = VersionedTableImpl.currentVersion(spark, epochRoot)
      graft.streaming.LakehouseSink.versionedBatch(
        epochBatches.head, id = 0L, epochRoot, appId = "lsoak", NB,
        compactOver = None, emitFeed = false)
      assert(VersionedTableImpl.currentVersion(spark, epochRoot) == evBefore,
        "a replayed epoch must not commit a new version")

      // state == one-shot replay (nothing lost to a takeover, nothing
      // doubled by a retried loud abort)
      val cowCur = VersionedTableImpl.currentVersion(spark, cowRoot)
      val cowReplay = objRoot("cow_rp")._1
      VersionedTableImpl.commitMerge(spark, cowReplay,
        cowBatches.values.reduce(_ unionByName _), NB)
      assert(stateSet(VersionedTableImpl.readVersion(spark, cowRoot, cowCur)) ==
        stateSet(VersionedTableImpl.readVersion(spark, cowReplay, 1)),
        "state under latency injection != one-shot replay")
      val epochReplay = objRoot("epoch_rp")._1
      VersionedTableImpl.commitMerge(spark, epochReplay,
        epochBatches.reduce(_ unionByName _), NB)
      val ev = VersionedTableImpl.currentVersion(spark, epochRoot)
      assert(stateSet(VersionedTableImpl.readVersion(spark, epochRoot, ev)) ==
        stateSet(VersionedTableImpl.readVersion(spark, epochReplay, 1)),
        "epoch state under latency injection != one-shot replay")
    } finally { FlakyFileSystem.disarmLatency(); FlakyFileSystem.disarm() }
  }

  test("a writer stalled past staleClaimMs wakes after the takeover: loud abort, no clobber; a slow-but-in-window writer is never taken over") {
    val (root, _) = objRoot("slow")
    VersionedTableImpl.commitMerge(spark, root, batch(Seq(1L, 2L)), NB)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // ---- the stalled half: A claims v2 with a 300 ms window, stages its
    // manifest, then stalls 800 ms (a GC pause, a network hiccup)
    val tmpA = new Path(root, "_versions/.tmp-slowwriter.parquet")
    VersionedTableImpl.descriptorDf(spark, root, 1)
      .coalesce(1).write.mode("overwrite").parquet(tmpA.toString)
    val cidA = CommitProtocol.claimVersionId(spark, root, 2,
      staleClaimMs = 300L)
    assert(cidA.isDefined, "A must win the fresh claim")
    Thread.sleep(800L)

    // B legally takes over the aged claim and commits v2
    val vB = retrying("takeover-commit")(VersionedTableImpl.commitMerge(
      spark, root, batch(Seq(50L)), NB, maxAttempts = 5, staleClaimMs = 300L))
    assert(vB == 2, s"the takeover winner commits v2: $vB")
    val bState = stateSet(VersionedTableImpl.readVersion(spark, root, 2))

    // A wakes and tries to finish its publish of v2: LOUD abort — the
    // fail-closed check, not a silent clobber of B's committed manifest
    val e = intercept[IllegalStateException] {
      CommitProtocol.publish(fs, tmpA,
        VersionedTableImpl.visiblePath(root, 2), "slow writer A")
    }
    assert(e.getMessage.contains("already exists"),
      s"the stalled writer must die loudly: ${e.getMessage}")
    assert(stateSet(VersionedTableImpl.readVersion(spark, root, 2)) == bState,
      "B's committed v2 must be untouched by A's late publish")

    // ---- the merely-slow half: C claims v3 with the default-scale
    // window; 1 s of slowness must NOT make it takeover-eligible
    val cidC = CommitProtocol.claimVersionId(spark, root, 3,
      staleClaimMs = 60000L)
    assert(cidC.isDefined)
    Thread.sleep(1000L)
    val thief = CommitProtocol.claimVersionId(spark, root, 3,
      staleClaimMs = 60000L)
    assert(thief.isEmpty, "a slow-but-in-window writer must not be " +
      "taken over — staleness is the only takeover license")
    CommitProtocol.releaseClaim(spark, root, 3, cidC.get, 60000L)
  }
}
