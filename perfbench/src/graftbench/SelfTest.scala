package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.StreamMain
import graft.config.GraftConfig
import graft.sources.InMemoryStreamClient

/** The benchmark's own tests: generator determinism, checkers that catch
  * planted faults, the percentile rule, agreement between the catch-up
  * path (`StreamMain.run`) and the tail wiring, and BENCHMARK.json staying
  * in step with the metrics the code reports.
  *
  *     python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse("bench-work")).toAbsolutePath
    Files.createDirectories(work)

    test("generator: same seed gives identical CDC bytes, another seed differs") {
      def bytes(seed: Long, keys: Keys) = {
        val d = work.resolve(s"gen-$seed")
        CdcGen.writeShardLog(d, new CdcGen(seed, keys).batch(3000, CdcGen.clockStart(seed), 3600000L))
        val all = Files.list(d).iterator().asScala.toSeq.sorted
          .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        Files2.deleteTree(d)
        all
      }
      expect(bytes(7, CdcSpec.keys()) == bytes(7, CdcSpec.keys()), "same seed, different log")
      expect(bytes(7, CdcSpec.keys()) != bytes(8, CdcSpec.keys()), "different seeds, same log")
      val ops = new CdcGen(7, UniformKeys(1000)).batch(2000, 0, 1000).map(_.op).toSet
      expect(ops == (0 until 8).toSet, s"not every op type generated: $ops")
    }

    test("generator: same seed gives identical documents and embeddings") {
      val (d1, p1) = CurationGen.documents(3, 300, 20)
      val (d2, p2) = CurationGen.documents(3, 300, 20)
      val (d3, _) = CurationGen.documents(4, 300, 20)
      expect(d1 == d2 && p1 == p2 && p1.size == 20, "documents differ for one seed")
      expect(d1 != d3, "documents equal across seeds")
      def vecs(s: Long) = CurationGen.embeddings(s, 200, 8).map(v => (v.id, v.v.toSeq, v.label))
      expect(vecs(3) == vecs(3) && vecs(3) != vecs(4), "embeddings not seed-determined")
    }

    test("percentile: p99 needs ten samples beyond it") {
      val xs = (1 to 1000).map(_.toDouble)
      expect(Stats.percentile(xs, 99, 10) == 990.0, "p99 of 1..1000")
      expect(scala.util.Try(Stats.percentile(xs.take(999), 99, 10)).isFailure,
        "999 samples leave 9 beyond p99 and must be refused")
      expect(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0, "median")
    }

    test("checks: replay history matching and feed keys") {
      val c1 = Change(1, 10, 0, "view", 1.0, 1, 0) // insert key 10
      val c2 = Change(2, 10, 1, "view", 2.0, 1, 0) // update it
      val c3 = Change(3, 10, 2, "view", 2.0, 1, 0) // delete it
      val r = new Checks.Replay
      val (states, fps) = Seq(c1, c2, c3).map { c => r(c); (r.snapshot, Checks.fingerprintOf(r.live)) }.unzip
      expect(Checks.feedKeys(states(0), states(1)) == Set(10L -> "UPDATE"), "feed of an update")
      expect(Checks.feedKeys(states(0), states(2)) == Set(10L -> "DELETE"), "feed of a delete")
      val batches = (0L, 0L) +: fps
      expect(Checks.matchVersions(Seq(fps(0), fps(0), fps(1)), batches) == Right(Seq(1, 1, 2)), "valid history")
      expect(Checks.matchVersions(Seq(fps(1), fps(0)), batches).isLeft, "history going backwards")
      expect(Checks.matchVersions(Seq(fps(0), (1L, 42L)), batches).isLeft, "wrong version state")
      val row = Checks.Row(10, "INSERT", c1.seqStr, "view", 1.0, 1)
      expect(Checks.sameRows(Seq(row), Seq(row)).isEmpty, "equal rows")
      expect(Checks.sameRows(Seq(row.copy(value = 2.0)), Seq(row)).nonEmpty, "wrong table row not caught")
      expect(Checks.sameRows(Nil, Seq(row)).nonEmpty, "missing table row not caught")
    }

    test("checks: a dropped, duplicated or reordered record in the table is caught") {
      val cs = new CdcGen(9, new ZipfKeys(50, 1.0)).batch(600, 0, 600000L).filter(Checks.passesFilter)
      val replay = new Checks.Replay
      cs.foreach(replay(_))
      val want = replay.live
      // a faulty sink's table: the last change to arrive for a key wins
      def arrived(xs: Seq[Change]): Seq[Checks.Row] =
        xs.groupBy(_.key).values.map(_.last).filter(_.hasNew).map(Checks.rowOf).toSeq.sortBy(_.key)
      expect(Checks.sameRows(arrived(cs), want).isEmpty, "clean table flagged")
      // the newest change of a live key, and the change before it
      val victim = cs.groupBy(_.key).values.filter(_.size >= 2).map(_.last).find(_.hasNew).get
      val older = cs.filter(c => c.key == victim.key && c.seq < victim.seq).last
      val dropped = arrived(cs.filterNot(_ == victim))
      expect(Checks.sameRows(dropped, want).nonEmpty, "dropped record passed")
      expect(Checks.fingerprintOf(dropped) != Checks.fingerprintOf(want), "dropped record kept the fingerprint")
      expect(Checks.sameRows((want :+ want.head).sortBy(_.key), want).nonEmpty, "duplicated row passed")
      val reordered = cs.filterNot(_ == older) :+ older
      expect(Checks.sameRows(arrived(reordered), want).nonEmpty, "reordered record passed")
    }

    test("checks: exact top-3 of the planted embeddings are the group mates") {
      val vs = CurationGen.embeddings(3, 200, 8)
      val top = new CurationWorkload().exactTop3(vs)
      expect(top.size == 8 && top.forall { case (q, ns) => ns == Set(0L, 1L, 2L, 3L).map(_ + q / 4 * 4) - q },
        s"exact top-3 are not the planted group mates: $top")
    }

    val ctx = new Ctx(5, 1, new Tracer(false, "selftest"), work, 2)
    ctx.newSession("local[2]")
    try {
      test("wiring: the tail query commits what StreamMain.run commits") {
        val lc = new CdcGen(6, CdcSpec.keys()).batch(1500, CdcGen.clockStart(6), 3600000L)
        val lconf = work.resolve("lake.conf")
        Files.write(lconf, CdcSpec.hocon(500).getBytes(StandardCharsets.UTF_8))
        val llog = work.resolve("lake-log")
        CdcGen.writeShardLog(llog, lc)
        val a = work.resolve("lake-a")
        StreamMain.run(ctx.spark, lconf.toString, llog.toString, a.toString)
        val b = work.resolve("lake-b")
        drainTail(ctx, lconf, lc, b)
        def latest(dir: Path) = {
          val root = dir.resolve("vtable").toString
          CdcWorkload.tableRows(ctx.spark, root, graft.ops.VersionedTableImpl.currentVersion(ctx.spark, root))
        }
        val replay = new Checks.Replay
        lc.filter(Checks.passesFilter).foreach(replay(_))
        expect(Checks.sameRows(latest(a), replay.live).isEmpty, "catch-up table differs from the replay")
        expect(Checks.sameRows(latest(b), latest(a)).isEmpty, "tail wiring table differs from catch-up")
      }
    } finally ctx.spark.stop()

    test("BENCHMARK.json lists the metrics the code reports") {
      val root = Paths.get(".").toAbsolutePath.normalize
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(root.resolve("BENCHMARK.json").toFile)
      def pairs(key: String) = node.get(key).elements().asScala.toSeq
        .map(m => m.get("name").asText() -> m.get("unit").asText())
      expect(pairs("per_layer") == Layers.Names, s"per_layer differs from Layers.Names")
      expect(pairs("end_to_end").map(_._1).sorted ==
        Seq("bulk_s", "fresh_p50_ms", "fresh_p99_ms", "live_heap_mb", "setup_s"),
        s"end_to_end names: ${pairs("end_to_end")}")
      val workloads = node.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
      expect(workloads == Seq(CdcSpec.Name, "curation"), s"workloads: $workloads")
      expect(node.get("workloads").elements().asScala.exists(_.get("why").asText()
        .contains(f"${CdcSpec.TailRate}%,d records/s")), "tail rate missing from the workload's why")
    }

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Push `changes` through the tail wiring in one go: all records are in
    * the in-memory client before the query starts, and the query runs
    * until it has consumed them. */
  def drainTail(ctx: Ctx, conf: Path, changes: Seq[Change], out: Path): Unit = {
    val client = new InMemoryStreamClient(pageCap = 1 << 20)
    (0 until Change.Shards).foreach(i => client.createShard(Change.shardOf(i)))
    changes.groupBy(_.shard).foreach { case (sh, cs) =>
      client.append(sh, cs.sortBy(_.seq).map(Change.streamRecord))
    }
    val key = s"selftest-${System.nanoTime()}"
    InMemoryStreamClient.register(key, client)
    val settings = GraftConfig.connector(GraftConfig.load(conf.toString))
    val q = new CdcWorkload().startTail(ctx, settings, key, out)
    q.processAllAvailable()
    q.stop()
  }
}
