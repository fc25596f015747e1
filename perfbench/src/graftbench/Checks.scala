package graftbench

/** Order statistics. Percentiles are nearest-rank over the raw samples. */
object Stats {
  /** The `p`-th percentile; fails unless at least `minBeyond` samples lie
    * strictly above its rank (so a p99 rests on more than one outlier). */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 0): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * sorted.size).toInt)
    val beyond = sorted.size - rank
    require(beyond >= minBeyond,
      s"p$p over ${sorted.size} samples has $beyond beyond it; need $minBeyond")
    sorted(rank - 1)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** Output checks. Each reads the engine's output through its own code path
  * (rows collected from a read) and compares it with what the benchmark
  * itself derives from the generated input. A check returns the list of
  * problems it found; empty means it passed. */
object Checks {
  /** The benchmark's own evaluation of the workload filter
    * `newImage.value == null || newImage.value >= 25`: a change without a
    * new image (a delete or TTL expiry) passes, an upsert passes when its
    * value is at least 25. */
  def passesFilter(c: Change): Boolean = !c.hasNew || c.value >= 25.0

  /** One table row as the versioned table shows it. */
  final case class Row(key: Long, op: String, seq: String, eventType: String,
      value: Double, k: Long)

  def rowOf(c: Change): Row = Row(c.key, c.opName, c.seqStr, c.eventType, c.value, c.k)

  /** Latest-wins replay with tombstones, folded by the benchmark: a key's
    * row is its highest-sequence change; a delete leaves a dead key. */
  final class Replay {
    private val state = scala.collection.mutable.HashMap[Long, Change]()
    def apply(c: Change): Unit = state.get(c.key) match {
      case Some(o) if o.seq > c.seq =>
      case _ => state(c.key) = c
    }
    def live: Seq[Row] = state.values.filter(_.hasNew).toSeq.sortBy(_.key).map(rowOf)
    def snapshot: Map[Long, Change] = state.toMap
  }

  /** The table's rows equal the replay's, row for row. */
  def sameRows(table: Seq[Row], want: Seq[Row]): Seq[String] =
    if (table == want) Nil
    else Seq(s"table has ${table.size} rows, replay has ${want.size}; first difference " +
      table.diff(want).headOption.orElse(want.diff(table).headOption).getOrElse("in order"))

  /** Order-free fingerprint of a set of (key, seq) rows. */
  def fingerprint(rows: Iterator[(Long, String)]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { case (k, s) =>
      n += 1
      var x = k * 0x9E3779B97F4A7C15L ^ s.hashCode.toLong * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
      h += x
    }
    (n, h)
  }

  def fingerprintOf(rows: Seq[Row]): (Long, Long) =
    fingerprint(rows.iterator.map(r => (r.key, r.seq)))

  /** Feed between two replay states: keys inserted, deleted or updated. */
  def feedKeys(a: Map[Long, Change], b: Map[Long, Change]): Set[(Long, String)] =
    (a.keySet ++ b.keySet).flatMap { k =>
      val la = a.get(k).exists(_.hasNew)
      val lb = b.get(k).exists(_.hasNew)
      if (!la && lb) Some(k -> "INSERT")
      else if (la && !lb) Some(k -> "DELETE")
      else if (la && lb && a(k).seq != b(k).seq) Some(k -> "UPDATE")
      else None
    }

  /** Map table versions to replay states: each version's fingerprint must
    * equal the replay after some batch, never moving backwards. Returns the
    * batch index per version (1-based versions), or the problems. */
  def matchVersions(versionFps: Seq[(Long, Long)], batchFps: Seq[(Long, Long)])
      : Either[String, Seq[Int]] = {
    var j = 0
    val out = Seq.newBuilder[Int]
    versionFps.zipWithIndex.foreach { case (fp, v) =>
      while (j < batchFps.size && batchFps(j) != fp) j += 1
      if (j == batchFps.size)
        return Left(s"version ${v + 1} (${fp._1} rows) matches no replay state at or after the previous version")
      out += j
    }
    Right(out.result())
  }
}
