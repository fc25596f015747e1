package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth
import graft.streaming.LakehouseSink

/** The versioned lake's COW commit path runs no Spark job that only reads
  * metadata: bucket-scoped file lists and read schemas are resolved on
  * the driver, the compaction threshold check counts files from the
  * driver-side manifest rows, and the streaming sink evaluates each batch
  * once. Job counts come from a listener, not wall time, so they hold on
  * a loaded host. The last test pins the feed's bucket list against a
  * rebucket that wins the version the sink first targeted.
  */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private val NB = 8

  private def batch(lo: Int, hi: Int): DataFrame =
    CdcSynth.envelope((lo until hi).map { i =>
      (i.toLong, (i % 37).toLong, s"t${i % 3}", i / 4.0,
        new Timestamp(1700000000000L + i * 1000L), s"""{"k":${i % 11}}""")
    }.toDF("event_id", "user_id", "event_type", "value", "ts", "props"))

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsOf[T](body: => T): (T, Int) = {
    ListenerBusDrain(spark.sparkContext)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def epoch(root: String, id: Int): Unit =
    LakehouseSink.versionedBatch(batch(id * 150, id * 150 + 200), id.toLong,
      root, "jobs", NB, compactOver = Some(4), emitFeed = true)

  /** One table the job-count tests share, streamed through
    * [[LakehouseSink.versionedBatch]] for three epochs, feed and
    * compaction on; each test works from whatever version it finds. */
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_jobs").toString
    (0 until 3).foreach(epoch(r, _))
    r
  }

  test("a steady-state versioned sink commit runs at most 12 Spark jobs, feed and compaction on") {
    val v = VersionedTableImpl.currentVersion(spark, root)
    val (_, jobs) = jobsOf(epoch(root, v + 10))
    assert(VersionedTableImpl.currentVersion(spark, root) == v + 1,
      "the measured epoch committed and its compaction check found nothing")
    assert(VersionedTableImpl.feedPath(root, v + 1).getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(VersionedTableImpl.feedPath(root, v + 1)))
    info(s"steady-state commit: $jobs Spark jobs")
    assert(jobs <= 12, s"a steady-state commit ran $jobs Spark jobs")
  }

  test("planning readBuckets runs no Spark job, cold metadata cache included") {
    val v = VersionedTableImpl.currentVersion(spark, root)
    ManifestIo.MetaCache.clear()
    val (df, jobs) = jobsOf(VersionedTableImpl.readBuckets(spark, root, v,
      (0L until NB).toSeq, LakehouseOpsImpl.tableSchema))
    assert(jobs == 0, s"planning a bucket-scoped read ran $jobs Spark jobs")
    def rows(d: DataFrame) = d.filter(!col("last_op").isin(LakehouseOpsImpl.DeleteOps: _*))
      .select(col("user_id"), col("last_seq"), col("value"))
      .as[(Long, String, Option[Double])].collect().toSeq.sorted
    assert(rows(df) == rows(VersionedTableImpl.readVersion(spark, root, v)),
      "every bucket read together is the version's state")
  }

  test("a compaction check that finds nothing to compact runs no Spark job") {
    val v = VersionedTableImpl.currentVersion(spark, root)
    ManifestIo.MetaCache.clear()
    val (none, jobs) = jobsOf(VersionedTableImpl.compactVersion(spark, root, 4, NB))
    assert(none.isEmpty && jobs == 0, s"no-op compaction check ran $jobs Spark jobs")
    // the driver-side counts are real: threshold 0 selects every bucket
    val before = VersionedTableImpl.readVersion(spark, root, v)
      .select(col("user_id"), col("last_seq")).as[(Long, String)].collect().toSet
    assert(VersionedTableImpl.compactVersion(spark, root, 0, NB).contains(v + 1))
    assert(VersionedTableImpl.readVersion(spark, root, v + 1)
      .select(col("user_id"), col("last_seq")).as[(Long, String)].collect().toSet == before)
  }

  test("planning a full-version manifest runs no Spark job, cold metadata cache included") {
    val v = VersionedTableImpl.currentVersion(spark, root)
    ManifestIo.MetaCache.clear()
    val (m, jobs) = jobsOf(VersionedTableImpl.manifest(spark, root, v))
    assert(jobs == 0, s"planning manifest(v$v) ran $jobs Spark jobs")
    assert(m.select(col("file")).as[String].collect().toSet ==
      VersionedTableImpl.filesOf(spark, root, v, None).toSet,
      "the planned manifest lists the version's live files")
  }

  test("a MOR compaction check with nothing over threshold runs no Spark job") {
    val mor = Files.createTempDirectory("graft_mor_jobs").toString
    (0 until 3).foreach(i => MorTableImpl.commitAppend(spark, mor,
      batch(i * 150, i * 150 + 200), NB, autoCompact = false))
    ManifestIo.MetaCache.clear()
    val (none, jobs) = jobsOf(MorTableImpl.compactMor(spark, mor, 100, NB))
    assert(none.isEmpty, "nothing is over the threshold")
    assert(jobs == 0, s"a no-op MOR compaction check ran $jobs Spark jobs")
  }

  test("a rebucket that wins the sink's first-targeted version: _feed/v{N} equals changeFeed(N-1, N)") {
    spark.sparkContext.hadoopConfiguration.set("fs.hookfs.impl",
      classOf[graft.fs.HookFileSystem].getName)
    val root = s"hookfs://${Files.createTempDirectory("graft_feed_race")}"
    LakehouseSink.versionedBatch(batch(0, 200), 0L, root, "race", 4,
      compactOver = None, emitFeed = true)
    assert(VersionedTableImpl.currentVersion(spark, root) == 1)
    // the sink's first claim (of v2) creates `_versions` first: a rebucket
    // to 16 buckets runs right there and takes v2, so the sink's claim
    // loses and its retry commits v3 under the new bucket count
    var fired = false
    graft.fs.HookFileSystem.onMkdirs = p =>
      if (!fired && p.getName == "_versions") {
        fired = true
        assert(VersionedTableImpl.rebucket(spark, root, 16).contains(2))
      }
    try LakehouseSink.versionedBatch(batch(200, 400), 1L, root, "race", 4,
      compactOver = None, emitFeed = true)
    finally graft.fs.HookFileSystem.onMkdirs = _ => ()
    assert(fired, "fixture: the racing rebucket ran")
    assert(VersionedTableImpl.currentVersion(spark, root) == 3)
    assert(VersionedTableImpl.tableBuckets(spark, root, 4) == 16)
    def feedRows(df: DataFrame) =
      df.select(col("user_id"), col("change_op"), col("seq_before"), col("seq_after"))
        .as[(Long, String, Option[String], Option[String])].collect().toSeq.sorted
    val expected = feedRows(VersionedTableImpl.changeFeed(spark, root, 2, 3))
    assert(expected.nonEmpty, "fixture: the batch changed keys")
    assert(feedRows(spark.read.parquet(VersionedTableImpl.feedPath(root, 3).toString)) ==
      expected, "the feed diffs the buckets the winning attempt wrote")
  }
}
