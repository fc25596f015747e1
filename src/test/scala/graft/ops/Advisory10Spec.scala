package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth

/** Regression locks for the round-10 advisories:
  *
  *  1. `rebucket` must read the version's FULL file set from the manifest,
  *     never a 0-until-count bucket range — shrinking a legacy
  *     (pre-nbuckets-era) table would otherwise silently drop every row in
  *     the buckets above the new count.
  *  2. A commit retry racing a concurrent `rebucket` must re-resolve the
  *     table's bucket count — carrying the first attempt's count through
  *     the retry writes rows bucketed with the stale count under a
  *     manifest whose nbuckets column says otherwise (two bucketings mixed
  *     in one version; bucket-scoped reads then miss rows).
  *  3. `listTags` must skip a ref it cannot read (racing dropTag /
  *     half-created tag) instead of aborting — vacuum calls it on every
  *     maintenance cadence.
  */
class Advisory10Spec extends SparkSpec {
  import spark.implicits._

  private def env(rows: Seq[(Long, Long)]): DataFrame =
    CdcSynth.envelope(rows.toDF("event_id", "user_id")
      .withColumn("event_type", concat(lit("t"), pmod(col("user_id"), lit(3L))))
      .withColumn("value", col("event_id").cast("double") / 4.0)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("event_id") * 1000L))
      .withColumn("props", concat(lit("{\"k\":"), col("user_id") * 7L, lit("}"))))

  private def keysOf(df: DataFrame): Set[Long] =
    df.select("user_id").as[Long].collect().toSet

  /** Every version's manifest must record ONE bucket count, and every row
    * in every file must live in the bucket that count routes it to. */
  private def bucketingConsistent(root: String): Unit = {
    val cur = VersionedTableImpl.currentVersion(spark, root)
    (1 to cur).foreach { v =>
      val m = VersionedTableImpl.manifest(spark, root, v)
      if (m.columns.contains("nbuckets")) {
        val nbs = m.select("nbuckets").distinct().as[Long].collect().toSeq
        assert(nbs.size <= 1, s"v$v mixes bucket counts: $nbs")
        nbs.headOption.foreach { nb =>
          m.select("bucket", "file").as[(Long, String)].collect()
            .groupBy(_._1).foreach { case (b, fs) =>
              val bad = spark.read.parquet(fs.map(_._2): _*)
                .filter(pmod(col("user_id"), lit(nb)) =!= b).count()
              assert(bad == 0,
                s"v$v bucket $b holds $bad rows misrouted under nbuckets=$nb")
            }
        }
      }
    }
  }

  test("rebucket a legacy (no-nbuckets) manifest to FEWER buckets keeps every row") {
    val root = java.nio.file.Files.createTempDirectory("adv10_legacy").toString
    VersionedTableImpl.commitMerge(spark, root,
      env((0L until 32L).map(u => (8L * u, u))), nBuckets = 4)
    // age the descriptor back to the pre-nbuckets era: the same rows with
    // the nbuckets column gone, so the version records no bucket count
    val conf = spark.sparkContext.hadoopConfiguration
    val vis = new org.apache.hadoop.fs.Path(root, "_versions/v1.parquet")
    val fs = vis.getFileSystem(conf)
    val (rows, _) = ManifestIo.readDescriptorRows(conf, fs, vis)
    val tmp = new org.apache.hadoop.fs.Path(root, "_versions/.legacy.parquet")
    ManifestIo.writeDescriptor(conf, tmp, rows, None)
    fs.delete(vis, true)
    assert(fs.rename(tmp, vis))
    assert(!spark.read.parquet(vis.toString).columns.contains("nbuckets"))

    // shrink below the REAL count (4): the rewrite must not assume the
    // caller's parameter as the old bucket range
    val v2 = VersionedTableImpl.rebucket(spark, root, newBuckets = 2)
    assert(v2.contains(2), s"rebucket must commit: $v2")
    val keys = keysOf(VersionedTableImpl.readVersion(spark, root, 2))
    assert(keys == (0L until 32L).toSet,
      s"legacy shrink dropped ${32 - keys.size} rows: missing ${(0L until 32L).toSet -- keys}")
    bucketingConsistent(root)
  }

  test("commit retries racing a concurrent rebucket never mix bucketings in one manifest") {
    val root = java.nio.file.Files.createTempDirectory("adv10_race").toString
    VersionedTableImpl.commitMerge(spark, root,
      env((0L until 8L).map(u => (8L * u, u))), nBuckets = 2)
    val threads = 3
    val batches = 2
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    try {
      val committers = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until batches).foreach { j =>
            val base = 1000L * t + 100L * j
            VersionedTableImpl.commitMerge(spark, root,
              env((0L until 10L).map(i => (8L * (base + i) + 80000L, base + i))),
              nBuckets = 2, maxAttempts = 20)
          }
        })
      }
      val rebucketer = pool.submit(new java.util.concurrent.Callable[Option[Int]] {
        def call(): Option[Int] = {
          var r: Option[Int] = None
          var tries = 0
          while (r.isEmpty && tries < 30) { // keep losing claims to committers
            r = VersionedTableImpl.rebucket(spark, root, newBuckets = 8)
            tries += 1
            if (r.isEmpty) Thread.sleep(50L)
          }
          r
        }
      })
      committers.foreach(_.get())
      assert(rebucketer.get().isDefined, "rebucket never won a claim in 30 tries")
    } finally pool.shutdown()

    // every committed batch survived, under whichever bucketing won each version
    val expected = (0L until 8L).toSet ++ (for {
      t <- 0 until threads; j <- 0 until batches; i <- 0L until 10L
    } yield 1000L * t + 100L * j + i).toSet
    val cur = VersionedTableImpl.currentVersion(spark, root)
    assert(keysOf(VersionedTableImpl.readVersion(spark, root, cur)) == expected,
      "a committed batch was lost across the rebucket race")
    assert(VersionedTableImpl.tableBuckets(spark, root, 0) == 8,
      "the rebucket's count must be the table property afterwards")
    bucketingConsistent(root)
  }

  test("listTags skips an unreadable ref; vacuum survives a racing dropTag") {
    val root = java.nio.file.Files.createTempDirectory("adv10_tags").toString
    VersionedTableImpl.commitMerge(spark, root,
      env((0L until 8L).map(u => (8L * u, u))), nBuckets = 2)
    VersionedTableImpl.commitMerge(spark, root, env(Seq((8L * 50, 1L))), 2)
    VersionedTableImpl.tag(spark, root, "good", 1)
    // a half-written / corrupt ref (what a reader sees mid-create or when a
    // concurrent dropTag raced the listing on an FS without atomic listing)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(root, "_refs/tag-halfborn")
    val out = fs.create(junk, true)
    out.write("not-a-version".getBytes("UTF-8")); out.close()

    assert(VersionedTableImpl.listTags(spark, root) == Seq("good" -> 1),
      "the readable tag must list; the corrupt one must be skipped")
    // the maintenance cadence must not crash — and the GOOD tag's files
    // must stay protected below the keepFrom horizon
    VersionedTableImpl.vacuum(spark, root, keepFrom = 2)
    assert(keysOf(VersionedTableImpl.readTag(spark, root, "good")) ==
      (0L until 8L).toSet, "vacuum must keep protecting the readable tag's files")
  }
}
