package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcSynth

/** Round-13 advisory (medium): `readManifest`'s lenient scan
  * (`ignoreMissingFiles`) trades the loud FileNotFound abort for silent
  * row loss when a LIVE file vanishes — fine under a legal vacuum (which
  * never deletes retained versions' files), dangerous under a
  * misconfigured retention or an external deletion. The strict gate
  * (`spark.graft.read.strictMissingFiles=true`) gives auditors and
  * backfills fail-loud semantics back: the manifest's live file list is
  * existence-checked (distributed) before the scan, and the scan itself
  * keeps FNF aborts.
  *
  * Also pins [[VersionedTableImpl.sweepStranded]]: crashed-writer staging
  * dirs and mid-commit tmp descriptors are exactly the garbage a store
  * failure strands (the `finally` delete itself can fail), vacuum's
  * grace-0 single-writer cadence must NOT sweep them (it would kill a
  * racing writer mid-commit), so the sweep is a separate age-gated call.
  */
class ReadSafetySpec extends SparkSpec {
  import spark.implicits._

  private val NB = 4

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set(
      "fs.scripted.impl", classOf[graft.fs.ScriptedFaultFileSystem].getName)
  }

  private def env(rows: Seq[(Long, Long)]): DataFrame =
    CdcSynth.envelope(rows.toDF("event_id", "user_id")
      .withColumn("event_type", concat(lit("t"), pmod(col("user_id"), lit(3L))))
      .withColumn("value", col("event_id").cast("double") / 4.0)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("event_id")))
      .withColumn("props", concat(lit("{\"k\":"), col("user_id") * 7L, lit("}"))))

  test("strict read fails loud on an erroneously deleted live file; lenient read silently drops its rows") {
    val root = java.nio.file.Files.createTempDirectory("strict_read").toString
    VersionedTableImpl.commitMerge(spark, root,
      env((1L to 40L).map(i => (8L * i, i))), NB)
    val v = VersionedTableImpl.currentVersion(spark, root)
    val full = VersionedTableImpl.readVersion(spark, root, v).count()
    assert(full == 40L)

    // erroneous deletion of one LIVE file (not a vacuum — a bug or a human)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = VersionedTableImpl.manifest(spark, root, v)
      .select(col("file")).as[String].collect().sorted.head
    assert(fs.delete(new Path(victim), false))

    // lenient default: the read SUCCEEDS with silently fewer rows —
    // documented behavior, and exactly why the strict gate exists
    val lenient = VersionedTableImpl.readVersion(spark, root, v).count()
    assert(lenient < full && lenient > 0)

    spark.conf.set("spark.graft.read.strictMissingFiles", "true")
    try {
      val e = intercept[IllegalStateException] {
        VersionedTableImpl.readVersion(spark, root, v).count()
      }
      assert(e.getMessage.contains("missing from the store") &&
        e.getMessage.contains(new Path(victim).getName),
        s"strict error must name the missing file: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.read.strictMissingFiles")

    // strict mode on an INTACT table reads normally
    spark.conf.set("spark.graft.read.strictMissingFiles", "true")
    try {
      val root2 = java.nio.file.Files.createTempDirectory("strict_ok").toString
      VersionedTableImpl.commitMerge(spark, root2,
        env((1L to 10L).map(i => (8L * i, i))), NB)
      assert(VersionedTableImpl.readVersion(spark, root2, 1).count() == 10L)
    } finally spark.conf.unset("spark.graft.read.strictMissingFiles")
  }

  test("sweepStranded removes aged crashed-writer garbage only") {
    val root = java.nio.file.Files.createTempDirectory("sweep_stranded").toString
    VersionedTableImpl.commitMerge(spark, root,
      env(Seq((8L, 1L), (16L, 2L))), NB)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // a crashed writer's staging dir (with a child), an orphaned tmp
    // descriptor, and a takeover aside — all OLD
    val oldStaging = new Path(root, ".v_staging_deadbeef")
    fs.mkdirs(new Path(oldStaging, "bucket=0"))
    fs.create(new Path(oldStaging, "bucket=0/part-0.parquet"), true).close()
    val oldTmp = new Path(root, "_versions/.tmp-deadbeef.parquet")
    fs.create(oldTmp, true).close()
    val oldAside = new Path(root, "_versions/.dead-claim-v9-deadbeef")
    fs.create(oldAside, true).close()
    val past = System.currentTimeMillis() - 60000L
    Seq(new Path(oldStaging, "bucket=0/part-0.parquet"),
      new Path(oldStaging, "bucket=0"), oldStaging, oldTmp, oldAside)
      .foreach(p => fs.setTimes(p, past, past))

    // a FRESH staging dir — a live writer mid-commit — must survive
    val fresh = new Path(root, ".mor_staging_live")
    fs.mkdirs(fresh)
    fs.create(new Path(fresh, "part-0.parquet"), true).close()

    val swept = VersionedTableImpl.sweepStranded(spark, root,
      olderThanMs = 30000L)
    assert(swept.size == 3, s"expected 3 sweeps, got: $swept")
    assert(!fs.exists(oldStaging) && !fs.exists(oldTmp) && !fs.exists(oldAside))
    assert(fs.exists(fresh), "a fresh (possibly live) staging dir was swept")
    // the table is untouched
    assert(VersionedTableImpl.readVersion(spark, root, 1).count() == 2L)

    // age everything out: the fresh dir goes too at threshold 0
    val swept2 = VersionedTableImpl.sweepStranded(spark, root, olderThanMs = 0L)
    assert(swept2.size == 1 && !fs.exists(fresh))
  }

  // ------------- round-15 "Next round" #1/#2: the response-lost pointer
  // PUT with a degraded read path, pinned as a deterministic schedule

  test("pointer PUT response lost + failing read-backs: the staged data dir survives and the version is readable") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("ptr_unknown").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.setConditionalCommit(spark, root)
      VersionedTableImpl.commitMerge(spark, root,
        env((1L to 6L).map(i => (8L * i, i))), NB)
      assert(VersionedTableImpl.readVersion(spark, root, 1).count() == 6L)

      // THE schedule: the v2 pointer PUT lands but its response is lost,
      // and all 4 of the publisher's read-backs fail (a degraded read
      // path, NOT a positive absence). The publish aborts UNKNOWN and
      // STRANDS the data dir; the commit loop then sees the committed
      // pointer (exists() is not a read), checks the committed
      // descriptor's CONTENT, recognizes its own staged segment — the
      // "racer" was us, response-lost — and returns v2 as WON. The OLD
      // behavior deleted the v2 data dir at the abort and the staged
      // segment at the "beaten" cleanup, gutting the committed version.
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.loseCreateResponses,
        "_versions/v2.parquet.ptr", 1)
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failOpens,
        "_versions/v2.parquet.ptr", 4)

      val v = VersionedTableImpl.commitMerge(spark, root,
        env(Seq((8L * 100, 50L))), NB)
      assert(v == 2, s"the doubted-then-confirmed commit IS version 2: $v")

      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDirs = fs.listStatus(new Path(root, "_versions"))
        .map(_.getPath.getName).filter(_.startsWith(".data-v2.parquet-"))
      assert(dataDirs.length == 1,
        s"the staged data dir must survive an UNKNOWN pointer state: ${dataDirs.toSeq}")
      assert(fs.exists(new Path(root, "_versions/v2.parquet.ptr")),
        "the response-lost PUT did land")
      assert(graft.fs.ScriptedFaultFileSystem.fired.get() >= 5,
        "the schedule must actually have fired")

      assert(VersionedTableImpl.currentVersion(spark, root) == 2)
      val users = VersionedTableImpl.readVersion(spark, root, 2)
        .select(col("user_id")).as[Long].collect().toSet
      assert(users == (1L to 6L).toSet + 50L,
        s"no rows may be lost through the doubted commit: $users")

      // and sweepStranded must NOT touch the dir the live pointer names,
      // even at age 0
      val swept = VersionedTableImpl.sweepStranded(spark, root, olderThanMs = 0L)
      assert(swept.forall(!_.contains(".data-v2.parquet-")),
        s"sweep must never reclaim a pointer-named data dir: $swept")
      assert(VersionedTableImpl.readVersion(spark, root, 2).count() == 7L)
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }

  test("vacuum fails loudly on an unreadable branch manifest instead of sweeping the branch") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("vac_branch_fault").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.commitMerge(spark, root,
        env((1L to 8L).map(i => (8L * i, i))), NB)
      VersionedTableImpl.createBranch(spark, root, "audit")
      VersionedTableImpl.commitMergeToBranch(spark, root, "audit",
        env((9L to 16L).map(i => (8L * i, i))), NB)
      def branchRows() = VersionedTableImpl.readBranch(spark, root, "audit")
        .select(col("user_id"), col("last_seq")).as[(Long, String)]
        .collect().toSeq.sorted
      val before = branchRows()
      assert(before.size == 16)
      // the branch head is complete on disk (a branch manifest is published
      // by rename) but its open fails: pinning nothing for it would let
      // this grace-0 pass sweep the branch's own segment and data files
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failOpens, "b-audit-v1.parquet/", 100)
      val cur = VersionedTableImpl.currentVersion(spark, root)
      val e = intercept[java.io.IOException](
        VersionedTableImpl.vacuum(spark, root, keepFrom = cur, graceMs = 0L))
      assert(e.getMessage.contains("scripted"), e.getMessage)
      graft.fs.ScriptedFaultFileSystem.reset()
      assert(branchRows() == before, "the branch head reads unchanged")
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }

  test("pointer positively absent after retries: staged copy is deleted, the abort says so") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("ptr_pos_absent").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.setConditionalCommit(spark, root)
      VersionedTableImpl.commitMerge(spark, root, env(Seq((8L, 1L))), NB)
      // every PUT request-lost (nothing ever materializes): the read-backs
      // answer genuine FNF off the store — POSITIVE absence, where
      // deleting the staged copy is correct and the abort must say
      // "absent", not "unknown"
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failCreates,
        "_versions/v2.parquet.ptr", 100)
      val e = intercept[IllegalStateException] {
        VersionedTableImpl.commitMerge(spark, root,
          env(Seq((16L, 2L))), NB, maxAttempts = 1)
      }
      assert(e.getMessage.contains("optimistic attempts") ||
        e.getMessage.contains("positively absent"),
        s"unexpected abort: ${e.getMessage}")
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDirs = fs.listStatus(new Path(root, "_versions"))
        .map(_.getPath.getName).filter(_.startsWith(".data-v2.parquet-"))
      assert(dataDirs.isEmpty,
        s"a positively-absent pointer's staged copy is garbage: ${dataDirs.toSeq}")
      graft.fs.ScriptedFaultFileSystem.reset()
      assert(VersionedTableImpl.currentVersion(spark, root) == 1)
      val v = VersionedTableImpl.commitMerge(spark, root, env(Seq((16L, 2L))), NB)
      assert(v == 2 && VersionedTableImpl.readVersion(spark, root, 2).count() == 2L)
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }

  test("pointer PUT genuinely absent (FNF read-back): staged copy is deleted, commit retries cleanly") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("ptr_absent").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.setConditionalCommit(spark, root)
      VersionedTableImpl.commitMerge(spark, root, env(Seq((8L, 1L))), NB)
      // the PUT itself keeps failing REQUEST-lost (nothing materializes):
      // emulate by losing the response of... no — here the create must
      // NOT land, so fail the conditional PUT by pre-claiming the name
      // is wrong; instead: fail creates via an exhausted-read script is
      // impossible, so use the positive-absence half directly — the
      // create lands response-lost ONCE and the read-back answers FNF
      // (an eventually-consistent listing layer): the publisher must NOT
      // conclude "absent" from the first FNF while its own PUT is in
      // doubt — it retries, sees the pointer, and completes.
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.loseCreateResponses,
        "_versions/v2.parquet.ptr", 1)
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failOpensFnf,
        "_versions/v2.parquet.ptr", 1)
      val v = VersionedTableImpl.commitMerge(spark, root,
        env(Seq((16L, 2L))), NB)
      assert(v == 2, s"one FNF blip then a visible pointer must converge: $v")
      assert(VersionedTableImpl.readVersion(spark, root, 2).count() == 2L)
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }

  test("readManifest's bounded retry escapes loudly, naming a concurrent vacuum") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("read_escape").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.commitMerge(spark, root,
        env((1L to 10L).map(i => (8L * i, i))), NB)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val victim = VersionedTableImpl.manifest(spark, root, 1)
        .select(col("file")).as[String].collect().sorted.head
      // the file stays LISTED (the manifest names it; the store lists it)
      // but every open answers FNF — files vanishing faster than
      // re-planning can see them, which is exactly what a retention
      // misconfiguration racing this reader looks like
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failOpensFnf,
        new Path(victim).getName, 1000)
      val e = intercept[IllegalStateException] {
        VersionedTableImpl.readVersion(spark, root, 1).count()
      }
      assert(e.getMessage.contains("concurrent vacuum"),
        s"the escape must name the likely cause: ${e.getMessage}")
      graft.fs.ScriptedFaultFileSystem.reset()
      assert(VersionedTableImpl.readVersion(spark, root, 1).count() == 10L)
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }

  test("a vacuum sweeping a large dead set mid-read never fails a reader") {
    val root = java.nio.file.Files.createTempDirectory("vac_mid_read").toString
    // churn: every merge rewrites touched buckets, so 24 versions leave a
    // large dead set for one vacuum to sweep while reads are in flight
    (1L to 24L).foreach { i =>
      VersionedTableImpl.commitMerge(spark, root,
        env(Seq((8L * i, i % 7), (8L * i + 1, 7L + i % 5))), NB)
    }
    val cur = VersionedTableImpl.currentVersion(spark, root)
    val expect = VersionedTableImpl.readVersion(spark, root, cur).count()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val sweeper = new Thread(() => {
      try VersionedTableImpl.vacuum(spark, root, keepFrom = cur, graceMs = 0L)
      catch { case t: Throwable => err.set(t) }
    }, "vac-mid-read")
    sweeper.start()
    (1 to 8).foreach { _ =>
      assert(VersionedTableImpl.readVersion(spark, root, cur).count() == expect,
        "a reader raced by a legal vacuum must converge via the bounded retry")
    }
    sweeper.join(120000)
    assert(err.get() == null, s"vacuum failed: ${err.get()}")
    assert(VersionedTableImpl.readVersion(spark, root, cur).count() == expect)
  }

  test("a dead file deleted after a scan task opened it never fails the reader") {
    spark.sparkContext.hadoopConfiguration.set("fs.hookfs.impl",
      classOf[graft.fs.HookFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("vac_mid_file").toString
    val root = s"hookfs://$local"
    (1L to 3L).foreach { i =>
      VersionedTableImpl.commitMerge(spark, root,
        env(Seq((8L * i, i % 2), (8L * i + 1, 2L + i % 2))), NB)
    }
    val cur = VersionedTableImpl.currentVersion(spark, root)
    val expect = VersionedTableImpl.readVersion(spark, root, cur).count()
    def key(p: String) = p.split('/').takeRight(2).mkString("/")
    val live = VersionedTableImpl.manifest(spark, root, cur)
      .select(col("file")).as[String].collect().map(key).toSet
    val dead = java.nio.file.Files.walk(java.nio.file.Paths.get(local, "data"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .filterNot(f => live(key(f))).toSet
    assert(dead.nonEmpty, "fixture: the merges left superseded files")
    // a vacuum deleting a dead file while a scan task holds it open: the
    // footer is already read, the row groups are not
    val deleted = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.fs.HookFileSystem.onOpen = p => {
      val f = p.toUri.getPath
      if (dead(f) && Thread.currentThread.getStackTrace
          .exists(_.getClassName.contains("FileScanRDD")) &&
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
        deleted.incrementAndGet()
    }
    try assert(VersionedTableImpl.readVersion(spark, root, cur).count() == expect)
    finally graft.fs.HookFileSystem.onOpen = _ => ()
    assert(deleted.get() > 0, "fixture: a dead file vanished mid-scan")
  }

  test("sweepStranded reclaims .data- dirs only on positive pointer evidence") {
    graft.fs.ScriptedFaultFileSystem.reset()
    val local = java.nio.file.Files.createTempDirectory("sweep_datadirs").toString
    val root = s"scripted:$local"
    try {
      VersionedTableImpl.setConditionalCommit(spark, root)
      VersionedTableImpl.commitMerge(spark, root,
        env(Seq((8L, 1L), (16L, 2L))), NB)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val vDir = new Path(root, "_versions")
      val uuid = "0123456789abcdef0123456789abcdef"
      def mkDataDir(name: String): Path = {
        val p = new Path(vDir, name)
        fs.mkdirs(p)
        fs.create(new Path(p, "part-0.parquet"), true).close()
        p
      }
      // aged, destination pointer ABSENT → stranded in-flight writer
      val strayAbsent = mkDataDir(s".data-v9.parquet-$uuid")
      // aged, pointer PRESENT naming ANOTHER dir → lost the race
      val strayBeaten = mkDataDir(s".data-v1.parquet-$uuid")
      // fresh, pointer absent → possibly a live writer: must survive
      val fresh = mkDataDir(s".data-v8.parquet-$uuid")
      val past = System.currentTimeMillis() - 120000L
      Seq(strayAbsent, strayBeaten).foreach { d =>
        fs.setTimes(new Path(d, "part-0.parquet"), past, past)
        fs.setTimes(d, past, past)
      }
      // the REAL v1 data dir (named by the live pointer) is also "aged" —
      // age must never override positive pointer evidence
      val real = fs.listStatus(vDir).map(_.getPath)
        .filter(_.getName.startsWith(".data-v1.parquet-"))
        .filterNot(_.getName.endsWith(uuid)).head
      def ageDeep(p: Path): Unit = {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p).foreach(c => ageDeep(c.getPath))
        fs.setTimes(p, past, past)
      }
      ageDeep(real)

      val swept = VersionedTableImpl.sweepStranded(spark, root,
        olderThanMs = 60000L).map(new Path(_).getName).toSet
      assert(swept == Set(strayAbsent.getName, strayBeaten.getName),
        s"expected exactly the two positive-evidence strays: $swept")
      assert(fs.exists(fresh), "a fresh .data- dir (live writer) was swept")
      assert(fs.exists(real), "the pointer-named data dir was swept")
      assert(VersionedTableImpl.readVersion(spark, root, 1).count() == 2L)

      // pointer state UNKNOWN (read path degraded): even an aged stray
      // must be kept — the next sweep re-checks
      fs.setTimes(fresh, past, past)
      fs.setTimes(new Path(fresh, "part-0.parquet"), past, past)
      graft.fs.ScriptedFaultFileSystem.script(
        graft.fs.ScriptedFaultFileSystem.failOpens, "v8.parquet.ptr", 100)
      // absent pointer reads FNF straight off the local fs — force the
      // degraded-read answer by scripting the open itself... an absent
      // file cannot fail non-FNF here, so stand a pointer up and degrade it
      val out = fs.create(new Path(vDir, "v8.parquet.ptr"), true)
      try out.write("someone-elses-dir".getBytes("UTF-8")) finally out.close()
      val swept2 = VersionedTableImpl.sweepStranded(spark, root,
        olderThanMs = 60000L)
      assert(swept2.isEmpty,
        s"UNKNOWN pointer state must keep the dir: $swept2")
      graft.fs.ScriptedFaultFileSystem.reset()
      // read path healed: the pointer positively names another dir → swept
      val swept3 = VersionedTableImpl.sweepStranded(spark, root,
        olderThanMs = 60000L).map(new Path(_).getName)
      assert(swept3 == Seq(fresh.getName), s"healed sweep: $swept3")
    } finally graft.fs.ScriptedFaultFileSystem.reset()
  }
}
