package graft.ops

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth

/** Fixture row (top-level for Spark encoders). */
final case class A9Event(event_id: Long, user_id: Long, event_type: String,
    value: Double, ts: Timestamp, props: String)

/** Regression locks for the round-9 advisor findings on the versioned
  * table's commit protocol:
  *
  *  - `compactVersion` claimed the next version BEFORE its heavy fold —
  *    a compaction outliving the stale-claim window looked like a dead
  *    claimant, a concurrent commit legitimately broke the claim and
  *    published, and the finishing compactor's rename clobbered that
  *    committed manifest. Fixed by staging everything first and claiming
  *    immediately before the single publish rename (the compactMor
  *    discipline); a lost claim now yields cleanly.
  *  - `publish` trusted the rename result as the claim-invariant guard,
  *    but local-fs rename OVERWRITES an existing destination and returns
  *    true — any double-publish was silent. Fixed fail-closed: an existing
  *    destination throws before the rename.
  */
class Advisory9Spec extends SparkSpec {
  import spark.implicits._

  private val NB = 8

  private def events(ids: Seq[Int]): Seq[A9Event] = ids.map { i =>
    A9Event(i.toLong, (i % 17).toLong, s"t${i % 3}", i / 4.0,
      new Timestamp(1700000000000L + i * 1000L), s"""{"k":${(i % 17) * 7}}""")
  }

  private def env(ids: Seq[Int]): DataFrame =
    CdcSynth.envelope(events(ids).toDF())

  private def stateRows(df: DataFrame) =
    df.select(col("user_id"), col("last_op"), col("last_seq"),
      col("event_type"), col("value"), col("k"))
      .as[(Long, String, String, String, Double, Long)].collect().toSeq.sorted

  /** Fragmented v1 (record cap 1 splits every bucket into many files). */
  private def fragmentedTable(): String = {
    val root = Files.createTempDirectory("graft_a9").toString
    val prevCap = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try VersionedTableImpl.commitMerge(spark, root, env(0 until 60), NB)
    finally spark.conf.set("spark.sql.files.maxRecordsPerFile", prevCap)
    root
  }

  test("compactVersion yields to a held claim: no publish, racer commits, strands vacuum away") {
    val root = fragmentedTable()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // a racing writer holds the claim on v2 (fresh mtime: NOT stale)
    val claim = new Path(root, "_versions/v2.claim")
    fs.mkdirs(claim.getParent)
    fs.create(claim, false).close()

    // the compactor stages its rewrite, then loses the claim and yields
    assert(VersionedTableImpl.compactVersion(spark, root, maxFiles = 1, NB).isEmpty,
      "a lost claim must yield None, never publish")
    assert(!fs.exists(new Path(root, "_versions/v2.parquet")),
      "no manifest may appear for a version the compactor failed to claim")

    // its already-moved rewrite files are unreferenced -> vacuum-eligible
    val stranded = VersionedTableImpl.vacuum(spark, root, keepFrom = 1)
    assert(stranded.nonEmpty && stranded.forall(_.contains("/v2-")),
      s"the yielded compaction's staged files must be vacuum-eligible: $stranded")

    // the racer's commit proceeds untouched once it releases/uses its claim
    // (fragmented again: a COW merge rewrites its buckets' whole file set,
    // so the record cap must be live for the next compaction to have work)
    fs.delete(claim, false)
    val prevCap = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    val v2 =
      try VersionedTableImpl.commitMerge(spark, root, env(60 until 120), NB)
      finally spark.conf.set("spark.sql.files.maxRecordsPerFile", prevCap)
    assert(v2 == 2)
    val want = stateRows(VersionedTableImpl.readVersion(spark, root, 2))

    // and the next maintenance cadence compacts on top, state-identical
    val v3 = VersionedTableImpl.compactVersion(spark, root, maxFiles = 1, NB)
    assert(v3.contains(3), s"retry cadence compacts cleanly: $v3")
    assert(stateRows(VersionedTableImpl.readVersion(spark, root, 3)) == want,
      "compaction is pure layout: state equals its predecessor")
  }

  test("publish fails closed on an existing destination instead of overwriting it") {
    val root = fragmentedTable()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new Path(root, "_versions/v1.parquet")
    assert(fs.exists(dest), "fixture: v1 manifest exists")
    val before = stateRows(VersionedTableImpl.readVersion(spark, root, 1))

    // a would-be double-publish targets the committed v1 manifest path
    val tmp = new Path(root, "_versions/.tmp-doublepublish.parquet")
    Seq((0L, "bogus")).toDF("bucket", "file")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val e = intercept[IllegalStateException] {
      CommitProtocol.publish(fs, tmp, dest, "double publish")
    }
    assert(e.getMessage.contains("already exists"),
      s"must refuse loudly, not silently overwrite: ${e.getMessage}")
    assert(stateRows(VersionedTableImpl.readVersion(spark, root, 1)) == before,
      "the committed manifest must be untouched")
  }

  test("repairFeeds emits exactly the missing versions' change data files") {
    val root = Files.createTempDirectory("graft_a9_feed").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTableImpl.commitMerge(spark, root, env(0 until 50), NB)
    VersionedTableImpl.commitMerge(spark, root, env(50 until 100), NB)
    // v1 has its feed; v2's emission "crashed" (never ran)
    VersionedTableImpl.emitFeed(spark, root, 1, 0L until NB.toLong)

    val repaired = VersionedTableImpl.repairFeeds(spark, root, NB)
    assert(repaired == Seq(2), s"only the missing version is repaired: $repaired")
    def feedRows(df: DataFrame) =
      df.select(col("user_id"), col("change_op"), col("seq_before"), col("seq_after"))
        .as[(Long, String, Option[String], Option[String])].collect().toSeq.sorted
    assert(feedRows(spark.read.parquet(s"$root/_feed/v2.parquet")) ==
      feedRows(VersionedTableImpl.changeFeed(spark, root, 1, 2)),
      "the repaired artifact must equal the recomputed v1->v2 diff")

    // idempotent: a second scan finds nothing to do
    assert(VersionedTableImpl.repairFeeds(spark, root, NB).isEmpty)

    // a partial (no _SUCCESS) artifact reads as missing and is re-emitted
    fs.delete(new Path(s"$root/_feed/v1.parquet/_SUCCESS"), false)
    assert(VersionedTableImpl.repairFeeds(spark, root, NB) == Seq(1),
      "an interrupted emission (no _SUCCESS) must be repaired")
  }
}
