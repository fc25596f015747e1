package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ManifestIo.readDescriptorRows]] replaced a Spark
  * `read.parquet(...).collect()` job on every manifest resolution
  * (round 16); every commit/read path in Versioned/Mor now rests on the
  * driver-side read returning EXACTLY what the distributed read returned —
  * including the null-vs-empty buckets distinction (null = "all buckets"
  * mask, empty = "no buckets") and the first-row nbuckets constant. Both
  * writers are pinned: ManifestIo's own AND Spark's parquet writer. It is
  * the only descriptor reader and has no fallback, so its failures are
  * loud and typed: a file that is not a descriptor raises
  * [[CorruptManifest]], and I/O errors propagate unwrapped.
  *
  * The bucket-scoped commit paths go further and resolve COW segment rows
  * and read schemas driver-side too; those are pinned against the
  * distributed resolution and `mergeSchema` inference they replaced.
  */
class DescriptorDriverReadSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs(p: Path) = p.getFileSystem(conf)

  private val rows: Seq[(String, Option[Seq[Long]])] = Seq(
    ("seg-aaaa", Some(Seq(0L, 3L, 5L))),
    ("seg-bbbb", None),           // null mask: segment serves ALL buckets
    ("seg-cccc", Some(Seq.empty)) // explicit empty array
  )

  private def tmpDir(tag: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(s"desc_$tag").toString,
      "m.parquet")

  test("round-trips ManifestIo.writeDescriptor, with and without nbuckets") {
    Seq(Some(8L), None).foreach { nb =>
      val p = tmpDir("rt")
      ManifestIo.writeDescriptor(conf, p, rows, nb)
      val (r, n) = ManifestIo.readDescriptorRows(conf, fs(p), p)
      assert(r == rows.toVector, s"rows differ for nb=$nb")
      assert(n == nb)
    }
  }

  test("agrees with the distributed read of the same file") {
    val p = tmpDir("eq")
    ManifestIo.writeDescriptor(conf, p, rows, Some(4L))
    val viaSpark = spark.read.parquet(p.toString)
      .select(col("segment"), col("buckets"), col("nbuckets"))
      .collect()
      .map(r => (r.getString(0), Option(r.getSeq[Long](1)).map(_.toSeq),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toVector
    val (r, nb) = ManifestIo.readDescriptorRows(conf, fs(p), p)
    assert(r == viaSpark.map { case (s, b, _) => (s, b) })
    assert(Some(nb) == viaSpark.headOption.map(_._3))
  }

  test("reads a SPARK-written descriptor (the restore/branch copy form)") {
    val src = tmpDir("src")
    ManifestIo.writeDescriptor(conf, src, rows, Some(8L))
    val copy = tmpDir("cp")
    spark.read.parquet(src.toString).coalesce(1)
      .write.mode("overwrite").parquet(copy.toString)
    val (r, nb) = ManifestIo.readDescriptorRows(conf, fs(copy), copy)
    assert(r == rows.toVector)
    assert(nb == Some(8L))
  }

  test("a non-descriptor file raises CorruptManifest naming its path") {
    val p = tmpDir("flat")
    Seq((0L, "f0.parquet", 10L), (1L, "f1.parquet", 20L))
      .toDF("bucket", "file", "bytes")
      .coalesce(1).write.mode("overwrite").parquet(p.toString)
    val e = intercept[CorruptManifest](ManifestIo.readDescriptorRows(conf, fs(p), p))
    assert(e.path == p && e.getMessage.contains(p.toString), e.getMessage)
  }

  test("driver-side COW segment resolution equals the distributed read: both segment forms, every mask") {
    val root = java.nio.file.Files.createTempDirectory("desc_seg").toString
    val fileRows = (0 until 12).map(i =>
      ((i % 4).toLong, s"file:/t/data/bucket=${i % 4}/v1-f$i.parquet", 100L + i))
    // a ManifestIo single-file segment and a Spark-written directory one
    val single = VersionedTableImpl.writeSegmentRows(spark, root, fileRows.take(6))
    val dir = VersionedTableImpl.writeSegment(spark, root,
      fileRows.drop(6).toDF("bucket", "file", "bytes"))
    assert(VersionedTableImpl.segmentRows(spark, root, single) == fileRows.take(6),
      "the write-time cache entry holds the rows written")
    val masks: Seq[Option[Seq[Long]]] = Seq(None, Some(Seq(1L, 3L)), Some(Nil))
    val wants: Seq[Option[Seq[Long]]] = Seq(None, Some(Seq(0L, 1L)), Some(Seq(2L)), Some(Nil))
    val cases = (for (seg <- Seq(single, dir); m <- masks) yield Seq((seg, m))) :+
      Seq((single, Some(Seq(0L, 1L))), (dir, None))
    for (pairs <- cases; want <- wants) {
      ManifestIo.MetaCache.clear() // the driver READ, not the cache entry
      val driver = VersionedTableImpl.liveRows(spark, root, pairs, want).sorted
      val distributed = VersionedTableImpl.resolveFromPairs(spark, root, pairs, None, want)
        .select(col("bucket"), col("file"), col("bytes"))
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(driver == distributed, s"pairs=$pairs buckets=$want")
    }
  }

  test("readBuckets' explicit schema equals mergeSchema inference across two payload eras") {
    val root = java.nio.file.Files.createTempDirectory("desc_era").toString
    def env(ids: Seq[Int]) = graft.cdc.CdcSynth.envelope(ids.map { i =>
      (i.toLong, (i % 13).toLong, s"t${i % 3}", i / 2.0,
        new java.sql.Timestamp(1700000000000L + i * 1000L), s"""{"k":$i}""")
    }.toDF("event_id", "user_id", "event_type", "value", "ts", "props"))
    VersionedTableImpl.commitMerge(spark, root, env(0 until 60), 4)
    // era 2 carries a NEW image column and touches buckets 0 and 1 only
    val evolved = env((60 until 120).filter(i => (i % 13) % 4 < 2))
      .withColumn("image", col("image").withField("src",
        concat(lit("s"), col("event_id").cast("string"))))
    assert(VersionedTableImpl.commitMerge(spark, root, evolved, 4) == 2)
    val all = Seq(0L, 1L, 2L, 3L)
    val files = VersionedTableImpl.filesOf(spark, root, 2, Some(all))
    assert(files.map(f => spark.read.parquet(f).schema).distinct.size == 2,
      "fixture: the buckets hold files of two payload eras")
    ManifestIo.MetaCache.clear()
    val explicit = VersionedTableImpl.readBuckets(spark, root, 2, all,
      LakehouseOpsImpl.tableSchema)
    val inferred = spark.read.option("mergeSchema", "true").parquet(files: _*)
    assert(explicit.schema == inferred.schema)
    assert(explicit.schema.fieldNames.last == "src")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(explicit) == rows(inferred))
  }

  test("a missing descriptor propagates FileNotFoundException") {
    val p = new Path("/definitely/not/there.parquet")
    intercept[java.io.FileNotFoundException](
      ManifestIo.readDescriptorRows(conf, fs(p), p))
  }

  test("an injected read fault on the descriptor open propagates, still marked injected") {
    conf.set("fs.flaky.impl", classOf[graft.fs.FlakyFileSystem].getName)
    val p = tmpDir("flaky")
    ManifestIo.writeDescriptor(conf, p, rows, Some(4L))
    val fp = new Path(s"flaky:$p")
    graft.fs.FlakyFileSystem.arm(1L, rate = 0.0, readRate = 1.0)
    val e = try intercept[Exception](
        ManifestIo.readDescriptorRows(conf, fs(fp), fp))
      finally graft.fs.FlakyFileSystem.disarm()
    assert(graft.fs.FlakyFileSystem.isInjected(e), e.toString)
    assert(ManifestIo.readDescriptorRows(conf, fs(fp), fp)._1 == rows.toVector,
      "the same read succeeds once the fault is gone")
  }
}
