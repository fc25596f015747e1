package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.sources.StreamRecord

/** One generated CDC change. `op` is the CdcSynth op code (0..7):
  * 0 INSERT, 1 UPDATE, 2 DELETE, 3 REPLICATED_INSERT, 4 REPLICATED_UPDATE,
  * 5 REPLICATED_DELETE, 6 TTL, 7 UNKNOWN. `ts` is the creation stamp on the
  * generator's logical clock (epoch millis); it becomes the wire record's
  * `arrivalTimestamp`. */
final case class Change(seq: Long, key: Long, op: Int, eventType: String,
    value: Double, k: Long, ts: Long) {
  def hasNew: Boolean = Change.HasNew(op)
  def hasOld: Boolean = Change.HasOld(op)
  def seqStr: String = Change.seqStr(seq)
  def shard: String = Change.shardOf(key)
  def origin: String = Change.Origins(op)
  def opName: String = Change.OpNames(op)
}

object Change {
  val Shards = 8
  val HasNew: Set[Int] = Set(0, 1, 3, 4, 7)
  val HasOld: Set[Int] = Set(1, 2, 4, 5, 6)
  val Origins: IndexedSeq[String] = IndexedSeq(
    "USER", "USER", "USER", "REPLICATION", "REPLICATION", "REPLICATION", "TTL", null)
  val OpNames: IndexedSeq[String] = IndexedSeq("INSERT", "UPDATE", "DELETE",
    "REPLICATED_INSERT", "REPLICATED_UPDATE", "REPLICATED_DELETE", "TTL", "UNKNOWN")
  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "purchase", "search", "share")

  def seqStr(seq: Long): String = f"$seq%020d"
  def shardOf(key: Long): String = f"shard-${key % Shards}%03d"

  private def image(c: Change, value: Double): String =
    s"""{"user_id":${c.key},"event_type":"${c.eventType}","value":$value,"k":${c.k}}"""
  def newImage(c: Change): String = if (c.hasNew) image(c, c.value) else null
  def oldImage(c: Change): String = if (c.hasOld) image(c, c.value - 1.0) else null

  /** The `ShardLog` wire line (one JSON object per line). */
  def wireLine(c: Change): String = {
    def js(s: String): String = if (s == null) "null" else s
    def str(s: String): String = if (s == null) "null" else "\"" + s + "\""
    s"""{"sequenceNumber":"${c.seqStr}","arrivalTimestamp":${c.ts},""" +
      s""""origin":${str(c.origin)},"image":${js(newImage(c))},"oldImage":${js(oldImage(c))}}"""
  }

  def streamRecord(c: Change): StreamRecord = StreamRecord(c.seqStr,
    java.lang.Long.valueOf(c.ts), c.origin, newImage(c), oldImage(c))
}

/** Key distributions: uniform over a large space, or Zipf over a table. */
sealed trait Keys { def next(r: SplittableRandom): Long }
final case class UniformKeys(space: Long) extends Keys {
  def next(r: SplittableRandom): Long = r.nextLong(space)
}
final class ZipfKeys(n: Int, s: Double) extends Keys {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def next(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    // scatter ranks over the key space so hot keys land on every shard
    (lo.toLong * 2654435761L) % (n.toLong * 4)
  }
}

/** Seeded CDC change generator. Sequence numbers come from one global
  * logical counter (fixed-width decimal strings sort like numbers), so a
  * key's changes are ordered in its shard and across shards alike. */
final class CdcGen(seed: Long, keys: Keys) {
  private val rnd = new SplittableRandom(seed)
  private var seq = 0L

  def next(ts: Long): Change = {
    seq += 1
    val key = keys.next(rnd)
    val op = rnd.nextInt(8)
    val et = Change.EventTypes(rnd.nextInt(Change.EventTypes.size))
    val value = rnd.nextInt(10000) / 100.0
    Change(seq, key, op, et, value, rnd.nextLong(1000), ts)
  }

  /** `n` changes whose creation stamps advance evenly over `spanMs`. */
  def batch(n: Int, startTs: Long, spanMs: Long): Vector[Change] =
    Vector.tabulate(n)(i => next(startTs + i * spanMs / n))
}

object CdcGen {
  /** Start of the logical clock: an hour boundary picked by the seed. */
  def clockStart(seed: Long): Long =
    1700002800000L + (new SplittableRandom(seed ^ 0x5eedL).nextInt(24 * 365)) * 3600000L

  /** Write changes as a recorded shard log: `<shard>.jsonl` per shard, in
    * sequence order. */
  def writeShardLog(dir: Path, changes: Seq[Change]): Unit = {
    Files.createDirectories(dir)
    changes.groupBy(_.shard).foreach { case (sh, cs) =>
      val sb = new StringBuilder
      cs.sortBy(_.seq).foreach(c => sb.append(Change.wireLine(c)).append('\n'))
      Files.write(dir.resolve(s"$sh.jsonl"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Seeded `documents` / `embeddings` in the testdata schema, with planted
  * near-duplicate document pairs and clustered vectors. */
object CurationGen {
  val Dims = 64
  private val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    IndexedSeq.tabulate(400) { _ =>
      val len = 3 + r.nextInt(6)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** `n` documents; `dups` of them are near-copies (one token edited) of an
    * earlier document. Returns the docs and the planted (orig, copy) pairs. */
  def documents(seed: Long, n: Int, dups: Int): (Vector[Doc], Set[(Long, Long)]) = {
    val r = new SplittableRandom(seed)
    val docs = scala.collection.mutable.ArrayBuffer[Doc]()
    val pairs = Set.newBuilder[(Long, Long)]
    val dupAt = {
      val ids = scala.collection.mutable.LinkedHashSet[Int]()
      while (ids.size < dups) ids += n / 4 + r.nextInt(n - n / 4)
      ids.toSet
    }
    for (i <- 0 until n) {
      val text =
        if (dupAt(i)) {
          val src = r.nextInt(i)
          pairs += ((src.toLong, i.toLong))
          val toks = docs(src).text.split(' ')
          toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.size))
          toks.mkString(" ")
        } else {
          val len = 40 + r.nextInt(60)
          (0 until len).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
        }
      docs += Doc(i, text, if (r.nextInt(10) == 0) "de" else "en", s"src${r.nextInt(5)}")
    }
    (docs.toVector, pairs.result())
  }

  /** `n` vectors in `clusters` seeded clusters (label = cluster id). Within
    * a cluster, vectors come in planted groups of four near-copies, so each
    * vector's exact top-3 neighbours are its group mates. */
  def embeddings(seed: Long, n: Int, clusters: Int): Vector[Vec] = {
    val r = new SplittableRandom(seed)
    val centres = Array.fill(clusters, Dims)(r.nextDouble() * 2 - 1)
    val groups = (n + 3) / 4
    val groupCluster = Array.fill(groups)(r.nextInt(clusters))
    val groupCentre = Array.tabulate(groups, Dims)((g, d) =>
      centres(groupCluster(g))(d) + (r.nextDouble() - 0.5) * 0.8)
    Vector.tabulate(n) { i =>
      val g = i / 4
      Vec(i, Array.tabulate(Dims)(d => (groupCentre(g)(d) + (r.nextDouble() - 0.5) * 0.05).toFloat),
        groupCluster(g))
    }
  }
}
