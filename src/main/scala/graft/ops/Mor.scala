package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.cdc.CdcSynth

/** MERGE-ON-READ table — the write-cheap dual of [[VersionedTableImpl]]'s
  * copy-on-write commits (Hudi's MOR table type; Iceberg v2 equality
  * deletes; Delta deletion vectors — all public designs converge here).
  *
  * COW pays at COMMIT time: a batch touching a bucket rewrites the whole
  * bucket, so a trickle of single-key updates against a 100 TB table
  * rewrites terabytes per day. MOR pays at READ time instead:
  *
  *  - [[commitAppend]]: reduce the CDC batch to latest-per-key rows
  *    (tombstones included, as rows), APPEND them as new per-bucket DELTA
  *    files, and publish a manifest = previous manifest + the new delta
  *    rows. **No base file is read, rewritten, or deleted** — commit cost
  *    is O(batch) + one metadata write, independent of table size. The
  *    same claim-file protocol as the COW table arbitrates concurrent
  *    writers, with one crucial simplification: delta commits COMMUTE, so
  *    a loser's already-moved data files stay valid and its retry only
  *    re-bases the manifest (no re-merge, no re-write).
  *  - [[readMor]]: scan every file the manifest lists and fold
  *    latest-per-key ON READ (`max_by` over the lexicographic sequence —
  *    one hash aggregate on the key), then drop tombstones. Each key
  *    appears once per commit that touched it, so the read-side row
  *    overhead is exactly the un-compacted churn, which compaction bounds.
  *  - [[compactMor]]: fold base+deltas of the buckets whose file count
  *    crossed a threshold into one base file each (tombstones carried
  *    forward — the maintenance rewrite must keep the delete-confluence
  *    rows), commit as a new version through the claim protocol. Reads of
  *    PRIOR versions are untouched (their manifests still list the old
  *    files until vacuum); the compacted version is state-identical.
  *
  * The manifest schema gains a `kind` column ("base" | "delta") over the
  * COW table's `(bucket, file)`; [[VersionedTableImpl.vacuum]] works on a
  * MOR root unchanged (it only reads `file`).
  *
  * At 100 TB the decision rule is churn-shaped, the same trade the
  * reference's consumers face between upsert-in-place
  * (KeyspacesViewTargetMapper) and append-a-log (S3TargetMapper): high
  * churn + read-heavy → COW; high churn + write-heavy → MOR + scheduled
  * compaction. The q216/q217 gates prove both read paths hash-equal the
  * one-shot oracle replay.
  */
object MorTableImpl {

  import VersionedTableImpl.{fsOf, visiblePath, claimVersion, awaitOutcome,
    currentVersion, manifestCommitted, manifestDataPath, writeSegment,
    deleteSegment}

  /** Segment names of version v's descriptor (Nil for v = 0), read on
    * the driver. A MOR descriptor is the degenerate whole-segment form —
    * every row is (segment, null): a delta commit appends ONE row,
    * compaction consolidates — so a masked row is a [[CorruptManifest]]. */
  private def morSegments(s: SparkSession, root: String, v: Int): Seq[String] =
    if (v == 0) Nil
    else {
      val fs = fsOf(s, root)
      val p = manifestDataPath(fs, visiblePath(root, v)).getOrElse(
        // fail LOUDLY: a missing manifest for a committed-range version is
        // corruption or a bad argument, never an empty table
        throw new IllegalStateException(
          s"MOR manifest for v$v not found under $root/_versions"))
      ManifestIo.readDescriptorRows(s.sparkContext.hadoopConfiguration, fs, p)
        ._1.map {
          case (seg, None) => seg
          case (seg, Some(_)) =>
            throw new CorruptManifest(p, s"MOR descriptor row for $seg has a bucket mask")
        }
    }

  /** Flat (bucket, file, kind, min_key, max_key, bytes) rows of version
    * v's manifest, resolved through the layered descriptor (see
    * [[VersionedTableImpl]]'s layering note); planned with no Spark job. */
  private def manifestMor(s: SparkSession, root: String, v: Int): DataFrame =
    VersionedTableImpl.resolveFromPairs(s, root,
      morSegments(s, root, v).map(_ -> None), None, None, ManifestIo.morSegmentSchema)

  /** ZONE MAPS: per-file [min_key, max_key] over the staged files, one
    * narrow column scan before the move (a real deployment lifts these
    * from the parquet footers for free; the manifest is where they must
    * land either way — Iceberg keeps identical per-file column bounds in
    * its manifests for scan planning). Keyed by the `bucket=N/<name>`
    * path SUFFIX, never the bare name: one write task serves several
    * bucket dirs under the same part name (the [[VersionedTableImpl
    * .readManifest]] non-uniqueness), so a bare-name key would merge
    * bounds across buckets into near-global ranges and neuter the
    * pruning. */
  private def zoneMaps(s: SparkSession, staging: Path): Map[String, (Long, Long)] =
    s.read.parquet(staging.toString)
      .groupBy(regexp_extract(col("_metadata.file_path"), "[^/]+/[^/]+$", 0)
        .as("suffix"))
      .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Move staged `bucket=`-partitioned files into the data dirs under
    * `prefix`-tagged immutable names, returning manifest rows
    * (bucket, qualified file, kind, min_key, max_key). Shared by
    * [[commitAppend]] (delta files) and [[compactMor]] (base files). */
  private def moveStaged(s: SparkSession, root: String, staging: Path,
      kind: String, prefix: String): Seq[(Long, String, String, Long, Long, Long)] = {
    val fs = fsOf(s, root)
    try {
      val moves = fs.listStatus(staging)
        .filter(_.getPath.getName.startsWith("bucket="))
        .flatMap { st =>
          val b = st.getPath.getName.stripPrefix("bucket=").toLong
          val dest = new Path(s"$root/data/bucket=$b")
          fs.mkdirs(dest)
          fs.listStatus(st.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f, b, new Path(dest, s"$prefix-${f.getPath.getName}")))
        }.toSeq
      // TRICKLE-sized batches lift the zone bounds straight from the
      // parquet FOOTERS (driver, exact for int64, no Spark job — the
      // zone scan was one of the two fixed jobs on every delta commit's
      // wall clock); fat batches keep the one distributed scan, since a
      // driver footer loop over thousands of staged files on an object
      // store would be a HEAD storm. Any footer without usable stats
      // falls back to the scan for the WHOLE batch.
      val conf = s.sparkContext.hadoopConfiguration
      val zones: Map[String, (Long, Long)] =
        if (moves.size > Moves.DistributeOver) zoneMaps(s, staging)
        else {
          val byFooter = moves.map { case (f, b, _) =>
            ManifestIo.footerKeyBounds(conf, f.getPath, "user_id")
              .map(z => s"bucket=$b/${f.getPath.getName}" -> z)
          }
          if (byFooter.forall(_.isDefined)) byFooter.flatten.toMap
          else zoneMaps(s, staging)
        }
      // loud-failure renames, executor-parallel past the fat-batch
      // threshold (see [[Moves]]) — compaction rewrites are exactly the
      // O(files-in-batch) moves that must not serialize through the driver
      Moves.renameAll(s, moves.map { case (f, _, to) => (f.getPath, to) })
      moves.map { case (f, b, to) =>
        val (mn, mx) = zones(s"bucket=$b/${f.getPath.getName}")
        // the length is free here — recorded in the manifest so
        // table sizing is a metadata aggregate, never a HEAD storm
        (b, fs.makeQualified(to).toString, kind, mn, mx, f.getLen)
      }
    } finally fs.delete(staging, true)
  }

  /** [[writeSegment]] for DRIVER-RESIDENT MOR rows (a delta commit's own
    * files, a compaction's fresh base): one [[ManifestIo]] ParquetWriter
    * pass, no Spark job, a single-FILE segment — the same trickle-commit
    * constant cut as the COW side's `writeSegmentRows`. */
  private def writeSegmentRowsMor(s: SparkSession, root: String,
      rows: Seq[(Long, String, String, Long, Long, Long)]): String = {
    val name = s"seg-${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet"
    val path = new Path(VersionedTableImpl.segmentsDir(root), name)
    ManifestIo.writeMorSegment(s.sparkContext.hadoopConfiguration, path, rows)
    // the segment is immutable under a uuid name: cache its rows so the
    // next auto-fold's driver resolution re-reads nothing we just wrote
    ManifestIo.MetaCache.put(s"morseg|$path", rows.toVector)
    name
  }

  /** Append `env`'s latest-per-key reduction (tombstones as rows) as DELTA
    * files of version current+1. Returns the committed version. */
  /** The descriptor-row count past which [[commitAppend]] triggers its
    * own compaction, absent any operator-configured cadence: each delta
    * commit appends ONE descriptor row, so rows-since-compaction IS the
    * forgotten-cadence debt — it degrades every read's planning collect
    * (and its per-file footer fan-in) linearly, silently. 4× the bucket
    * count keeps the trigger rare relative to the table's own width
    * (compaction rewrites O(table) data, so it must amortize over many
    * trickle commits) while bounding planning metadata at O(nBuckets) —
    * the COW side's structural bound, imposed here by cadence. The floor
    * keeps toy tables from compacting every few commits. */
  private[ops] def autoCompactBound(nBuckets: Int): Int =
    math.max(16, 4 * nBuckets)

  def commitAppend(s: SparkSession, root: String, env: DataFrame,
      nBuckets: Int, maxAttempts: Int = 5,
      staleClaimMs: Long = 60000L, autoCompact: Boolean = true): Int = {
    val keyOf = coalesce(col("image.user_id"), col("oldImage.user_id"))
    val seqOf = col("metadata.stream_sequence_number")
    val updates = LakehouseOpsImpl.latestUpdates(env, keyOf, seqOf)
    // rows in table shape: merge into an EMPTY base = project the updates
    // (tombstones kept as null-payload rows), reusing the one merge algebra
    val emptyBase = s.createDataFrame(s.sparkContext.emptyRDD[Row],
      VersionedTableImpl.emptyStateFor(s, updates))
    val rows = LakehouseOpsImpl.mergeLatestKeepTombstones(emptyBase, updates)
      .drop("from_base")
      .withColumn("bucket", pmod(col("user_id"), lit(nBuckets.toLong)))
    val fs = fsOf(s, root)
    val staging = new Path(root,
      s".mor_staging_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    // write ONCE, before entering the claim loop: the delta files are
    // version-independent (commits commute), so a lost race reuses them
    try rows.write.mode("overwrite").partitionBy("bucket").parquet(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    val deltaRows = moveStaged(s, root, staging, "delta",
      s"d${java.util.UUID.randomUUID().toString.take(8)}")
    if (deltaRows.isEmpty) return currentVersion(s, root)
    // the delta SEGMENT is written once, like the delta files: commits
    // commute, so a lost race re-bases only the tiny descriptor
    val segName = writeSegmentRowsMor(s, root, deltaRows)
    var attempt = 0
    while (true) {
      attempt += 1
      val v = currentVersion(s, root)
      val newV = v + 1
      // manifest METADATA cost is O(batch): carried descriptor rows
      // (one per live segment) + ONE new row — never the carried file
      // rows, which at a million uncompacted files would re-serialize a
      // million-row manifest per trickle commit (the round-11 weak #1)
      val carried = morSegments(s, root, v)
      val tmp = new Path(root,
        s"_versions/.tmp-${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet")
      VersionedTableImpl.writeDescriptorFile(s, tmp,
        (carried :+ segName).map(_ -> None), None)
      val claimed = VersionedTableImpl.claimVersionId(
        s, root, newV, staleClaimMs)
      var beaten = false
      if (claimed.isDefined) {
        val won =
          try { VersionedTableImpl.publish(fs, tmp, visiblePath(root, newV),
            "commitAppend"); true }
          catch {
            case _: IllegalStateException // beaten via takeover edge
              if manifestCommitted(fs, visiblePath(root, newV)) =>
              beaten = true; false
            case e: Throwable => // failed without committing: unblock
              VersionedTableImpl.releaseClaim(s, root, newV, claimed.get, staleClaimMs)
              throw e
          }
        if (won) {
          // AUTO-BOUND the descriptor from the metadata already in hand
          // (carried rows + the one just appended — no extra I/O): past
          // the bound, fold now instead of trusting an operator-configured
          // cadence that may not exist. The fold is SCOPED
          // ([[compactOverFairShare]]): any committed compaction collapses
          // the descriptor to 2 rows via the carried-row consolidation, so
          // folding only the over-represented buckets restores the
          // metadata bound at a latency comparable to the delta commit
          // itself — the unlucky triggering caller no longer absorbs an
          // O(table) rewrite (round-13 advisory). Synchronous by design:
          // an async maintenance thread would silently make every
          // auto-compacting MOR table multi-writer, invalidating the
          // grace-0 vacuum cadence the single-writer contract permits.
          // Best-effort: the append IS committed, so a fold that loses
          // its claim (a racer is mid-commit) or fails outright must not
          // fail the caller — the descriptor stays over bound and the
          // next delta commit re-triggers.
          if (autoCompact && carried.size + 1 > autoCompactBound(nBuckets))
            try compactOverFairShare(s, root, nBuckets, staleClaimMs)
            catch { case e: Exception =>
              org.slf4j.LoggerFactory.getLogger(getClass).error(
                s"auto-compaction after MOR commit v$newV at $root failed; " +
                  "descriptor stays over bound until the next trigger", e)
            }
          return newV
        }
      }
      // lost: delta files + delta segment stay valid (commits commute);
      // only the descriptor dies before the re-base retry. A BEATEN
      // publish first checks whether the "racer" was us (response-lost
      // PUT with failing read-backs — the committed descriptor then
      // references OUR delta segment): ours → the commit stands.
      if (beaten && VersionedTableImpl.committedReferences(s, fs,
          visiblePath(root, newV), Seq(segName)).contains(true))
        return newV // we won, response-lost
      fs.delete(tmp, true)
      if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"commitAppend lost $maxAttempts optimistic attempts at $root")
      awaitOutcome(s, root, newV, staleClaimMs)
    }
    -1 // unreachable
  }

  /** All rows of version v's files, unmerged — optionally restricted to
    * a bucket set and/or a manifest `kind` ("base" | "delta").
    *
    * FULL-version reads (no bucket restriction) go through
    * [[VersionedTableImpl.readManifest]]: scan the data dir and semi-join
    * on the manifest's path suffixes, so the file list NEVER passes
    * through the driver — a MOR table between compactions holds
    * base+delta files in the millions at 100 TB, and collecting them
    * builds a million-path plan on a driver heap (the round-8 COW
    * finding, mirrored here in round 11). Bucket-scoped reads keep the
    * explicit pruned list: O(touched buckets) paths is metadata, and the
    * path-level pruning is the point. */
  private def readRaw(s: SparkSession, root: String, v: Int,
      buckets: Option[Seq[Long]] = None,
      kind: Option[String] = None): DataFrame = {
    val m0 = buckets.fold(manifestMor(s, root, v))(bs =>
      manifestMor(s, root, v).filter(col("bucket").isin(bs: _*)))
    val m = kind.fold(m0)(k => m0.filter(col("kind") === k))
    buckets match {
      case None =>
        VersionedTableImpl.readManifest(s, root, m,
          LakehouseOpsImpl.tableSchema)
      case Some(_) =>
        val files = m.select(col("file")).collect().map(_.getString(0)).toSeq
        if (files.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[Row],
            LakehouseOpsImpl.tableSchema)
        else s.read.option("mergeSchema", "true").parquet(files: _*)
    }
  }

  /** Latest-per-key fold of raw (base+delta) rows, tombstones KEPT. */
  private def foldLatest(raw: DataFrame): DataFrame = {
    val others = raw.columns.filterNot(_ == "user_id").toSeq
    raw.groupBy(col("user_id"))
      .agg(max_by(struct(others.map(col): _*), col("last_seq")).as("w"))
      .select(col("user_id") +: others.map(c => col(s"w.$c").as(c)): _*)
  }

  /** The table as of version v: read-side merge, then tombstone filter. */
  def readMor(s: SparkSession, root: String, v: Int): DataFrame =
    foldLatest(readRaw(s, root, v))
      .filter(!col("last_op").isin(LakehouseOpsImpl.DeleteOps: _*))

  /** READ-OPTIMIZED view (Hudi's RO query type): base files only, deltas
    * skipped — a deliberately STALE read that costs exactly what a COW
    * read costs (no fold over uncompacted churn), correct as of the last
    * compaction. The trade a dashboard gladly takes while the real-time
    * view ([[readMor]]) serves the consistency-critical paths; both run
    * against the same manifest, selected by the `kind` column. */
  def readMorOptimized(s: SparkSession, root: String, v: Int): DataFrame =
    foldLatest(readRaw(s, root, v, kind = Some("base")))
      .filter(!col("last_op").isin(LakehouseOpsImpl.DeleteOps: _*))

  /** [[readMor]] restricted to the given buckets — the serving read for
    * key-set consumers (stream enrichment) that already know their
    * buckets: O(touched buckets' files), never the table. */
  def readMorBuckets(s: SparkSession, root: String, v: Int,
      buckets: Seq[Long]): DataFrame =
    foldLatest(readRaw(s, root, v, Some(buckets)))
      .filter(!col("last_op").isin(LakehouseOpsImpl.DeleteOps: _*))

  /** The manifest rows a `keys` lookup at version v must read, after
    * bucket pruning AND zone-map skipping: a file whose [min_key, max_key]
    * contains none of the keys routed to its bucket holds no row for them
    * (metadata-only; O(manifest) driver work, zero data reads). */
  private[ops] def lookupFiles(s: SparkSession, root: String, v: Int,
      keys: Seq[Long], nBuckets: Int): Seq[String] = {
    val buckets = keys.map(k => math.floorMod(k, nBuckets).toLong).distinct
    val keyLit = keys.map(k => lit(k))
    val hit = keyLit.map(k => k.between(col("min_key"), col("max_key")) &&
        pmod(k, lit(nBuckets.toLong)) === col("bucket"))
      .reduce(_ || _)
    manifestMor(s, root, v)
      .filter(col("bucket").isin(buckets: _*) && hit)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** POINT LOOKUP on the MOR table, pruned three ways before any data row
    * is read: bucket (key → pmod), zone map (manifest per-file key
    * bounds — a delta file from a commit that never touched the key's
    * range is skipped entirely), and the pushed key predicate inside the
    * surviving files. The read-side merge then folds only the surviving
    * files' rows — at 100 TB with trickle commits this is the difference
    * between opening every delta a bucket ever accumulated and opening
    * the two or three that can contain the key. */
  def lookupMor(s: SparkSession, root: String, v: Int, keys: Seq[Long],
      nBuckets: Int): DataFrame = {
    val files = lookupFiles(s, root, v, keys, nBuckets)
    if (files.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row],
        LakehouseOpsImpl.tableSchema)
    val rows = s.read.option("mergeSchema", "true").parquet(files: _*)
      .filter(col("user_id").isin(keys: _*))
    foldLatest(rows)
      .filter(!col("last_op").isin(LakehouseOpsImpl.DeleteOps: _*))
  }

  /** The auto-bound's SCOPED fold: compact only the buckets holding more
    * than their fair share of the table's files (the ones trickle deltas
    * concentrated in), falling back to the maximal buckets when counts
    * are uniform — by pigeonhole at least one bucket always qualifies.
    * The descriptor still collapses to exactly 2 rows on ANY committed
    * fold (the untouched buckets' file rows consolidate into one fresh
    * segment inside [[compactMor]]), so the metadata bound is restored
    * while the DATA rewrite is O(churn since the last fold), not
    * O(table) — what keeps the triggering commit's p99 flat
    * (MorAutoCompactLatencySpec measures it). Returns the committed
    * version; None if the claim was lost (next trigger retries). */
  private[ops] def compactOverFairShare(s: SparkSession, root: String,
      nBuckets: Int, staleClaimMs: Long = 60000L): Option[Int] =
    compactMor(s, root, FairShareScope, nBuckets, staleClaimMs)

  /** File count per bucket at version v (driver-side metadata). */
  def bucketFileCounts(s: SparkSession, root: String, v: Int): Map[Long, Long] =
    manifestMor(s, root, v).groupBy(col("bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Fold the buckets whose file count exceeds `maxFiles` into one base
    * file each; untouched buckets' manifest rows carry forward. Returns
    * the new version, or None when nothing crossed the threshold (or the
    * claim was lost — the next cadence retries).
    *
    * ORDER MATTERS: all heavy work (fold + write + move) happens BEFORE
    * the claim, and the claim is taken immediately before the one
    * manifest rename — the same discipline as every other commit path.
    * Claiming first and working under the claim would reopen a lost-
    * update window: a compaction outliving `staleClaimMs` looks like a
    * dead claimant, a concurrent delta commit legitimately breaks the
    * claim and publishes v+1, and the finishing compactor's rename would
    * then clobber the appender's manifest (local-fs rename overwrites).
    * With claim-at-the-end, a successful claim PROVES v is still current
    * (a racer's publish of v+1 would have left its claim file behind);
    * a lost claim only strands the staged base files for vacuum. */
  def compactMor(s: SparkSession, root: String, maxFiles: Int,
      nBuckets: Int, staleClaimMs: Long = 60000L): Option[Int] = {
    val fs = fsOf(s, root)
    val v = currentVersion(s, root)
    if (v == 0) return None
    // METADATA for the fold — bucket counts, the folded buckets' file
    // list, the carried-rows consolidation — resolved ONCE. Trickle-scale
    // tables (every auto-fold: the descriptor bound caps the churn between
    // folds) resolve entirely DRIVER-SIDE from the ManifestIo-written
    // artifacts: ZERO Spark jobs for metadata, which is what keeps the
    // triggering commit's p99 flat (MorAutoCompactLatencySpec — the three
    // metadata jobs, not the data rewrite, dominated the scoped fold).
    // Tables past the driver caps (a never-compacted million-file table,
    // or a fat carry segment holding nulls) keep the distributed
    // resolution, cached so counts/files/carried share one segment scan.
    driverMetaRows(s, fs, root, v) match {
      case Some(rows) =>
        foldCommit(s, fs, root, v, maxFiles, nBuckets, staleClaimMs,
          counts = rows.groupBy(_._1).map { case (b, rs) => (b, rs.size.toLong) },
          filesOf = over => rows.collect { case r if over(r._1) => r._2 },
          writeCons = over => writeSegmentRowsMor(s, root,
            rows.filterNot(r => over(r._1))),
          close = () => ())
      case None =>
        val m = manifestMor(s, root, v).cache()
        foldCommit(s, fs, root, v, maxFiles, nBuckets, staleClaimMs,
          counts = m.groupBy(col("bucket")).count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          filesOf = over => m.filter(col("bucket").isin(over.toSeq: _*))
            .select(col("file")).collect().map(_.getString(0)).toSeq,
          writeCons = over => {
            // the carried (not over-threshold) file rows consolidate into
            // ONE fresh segment — O(live ∉ over) metadata, paid here so
            // every trickle delta commit between compactions stays
            // O(batch). Small carried sets go through the driver
            // ParquetWriter; only a genuinely fat one pays a Spark write.
            val keepRows = m.filter(!col("bucket").isin(over.toSeq: _*))
              .select(ManifestIo.morSegmentSchema.fieldNames.map(col).toSeq: _*)
            val rows = keepRows.limit(10001).collect()
            if (rows.length > 10000 ||
                rows.exists(r => (0 until 6).exists(r.isNullAt)))
              writeSegment(s, root, keepRows)
            else writeSegmentRowsMor(s, root, rows.toSeq.map(r =>
              (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
                r.getLong(4), r.getLong(5))))
          },
          close = () => m.unpersist())
    }
  }

  /** All file rows of version v, resolved driver-side from the
    * ManifestIo-written artifacts (descriptor + segments — each one
    * footer-plus-page round-trip, no Spark job). None past the scale caps
    * (512 segments / 20k file rows) or for a segment with a null field
    * ([[ManifestIo.readMorSegmentRows]]): the caller then takes the
    * distributed resolution. Read failures and a [[CorruptManifest]]
    * propagate. */
  private def driverMetaRows(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      v: Int): Option[Vector[(Long, String, String, Long, Long, Long)]] = {
    val conf = s.sparkContext.hadoopConfiguration
    val segs = morSegments(s, root, v)
    if (segs.size > 512) return None
    val out = Vector.newBuilder[(Long, String, String, Long, Long, Long)]
    var budget = 20000
    segs.foreach { seg =>
      val sp = new Path(VersionedTableImpl.segmentsDir(root), seg)
      val cached = ManifestIo.MetaCache
        .get[Vector[(Long, String, String, Long, Long, Long)]](s"morseg|$sp")
      cached.orElse(ManifestIo.readMorSegmentRows(conf, fs, sp, budget)
        .map { rows => ManifestIo.MetaCache.put(s"morseg|$sp", rows); rows })
      match {
        case Some(rows) if rows.size <= budget =>
          out ++= rows; budget -= rows.size
        case _ => return None
      }
    }
    Some(out.result())
  }

  /** The fold itself, metadata-source-agnostic: pick the over-threshold
    * buckets, rewrite exactly their rows into one key-sorted base file
    * each, consolidate the carried rows, publish through the claim
    * protocol. `counts`/`filesOf`/`writeCons` come from [[compactMor]]'s
    * driver or distributed resolution. */
  private def foldCommit(s: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      root: String, v: Int, maxFiles: Int, nBuckets: Int, staleClaimMs: Long,
      counts: Map[Long, Long], filesOf: Set[Long] => Seq[String],
      writeCons: Set[Long] => String, close: () => Unit): Option[Int] =
    try {
      if (counts.isEmpty) return None
      val over: Set[Long] =
        if (maxFiles != FairShareScope)
          counts.collect { case (b, n) if n > maxFiles.toLong => b }.toSet
        else {
          // fair-share scope: fold the over-represented buckets
          val fair = math.max(1L, counts.values.sum / math.max(1, nBuckets))
          val overFair = counts.collect { case (b, n) if n > fair => b }.toSet
          if (overFair.nonEmpty) overFair
          else {
            // UNIFORM counts: a max-1 threshold would select EVERY
            // max-count bucket — under uniformity that is the whole
            // table, exactly the O(table) latency spike this scope
            // exists to avoid. Fold only the lowest-numbered max-count
            // bucket (deterministic, pigeonhole-nonempty): the
            // carried-row consolidation alone collapses the descriptor
            // back to its 2-row bound, which is all the trigger needs.
            val mx = counts.values.max
            Set(counts.collect { case (b, n) if n == mx => b }.min)
          }
        }
      if (over.isEmpty) return None
      val newV = v + 1
      // bucket-scoped explicit file list (O(folded buckets' files) driver
      // metadata — the same posture as every bucket-scoped read)
      val files = filesOf(over)
      // ERA tolerance (files written before a payload column existed)
      // without schema inference, which is a Spark job even for one file:
      // the union of the files' footer schemas, read driver-side
      val raw = s.read.schema(VersionedTableImpl.readSchemaOf(s, files))
        .parquet(files: _*)
      val staged = foldLatest(raw) // tombstones carried
        .withColumn("bucket", pmod(col("user_id"), lit(nBuckets.toLong)))
        .repartition(over.size, col("bucket"))
        // key-sorted within each bucket: the compacted file's row-group
        // min/max stats then partition the key space, so post-compaction
        // point/range reads prune at the parquet footer under the zone map
        // (q191's clustered-compaction discipline applied to MOR)
        .sortWithinPartitions(col("bucket"), col("user_id"))
      val staging = new Path(root,
        s".mor_compact_${java.util.UUID.randomUUID().toString.replace("-", "")}")
      try staged.write.mode("overwrite").partitionBy("bucket").parquet(staging.toString)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
      val newRows = moveStaged(s, root, staging, "base", s"c$newV")
      val consSeg = writeCons(over)
      val baseSeg = writeSegmentRowsMor(s, root, newRows)
      val tmp = new Path(root,
        s"_versions/.tmp-${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet")
      VersionedTableImpl.writeDescriptorFile(s, tmp,
        Seq((consSeg, None), (baseSeg, None)), None)
      // COMMIT POINT: claim only now, with nothing slow left to do
      val cid = VersionedTableImpl.claimVersionId(
        s, root, newV, staleClaimMs).getOrElse {
        fs.delete(tmp, true) // moved base files strand until vacuum
        deleteSegment(fs, root, consSeg); deleteSegment(fs, root, baseSeg)
        return None
      }
      try VersionedTableImpl.publish(fs, tmp, visiblePath(root, newV), "MOR compaction")
      catch {
        case _: IllegalStateException // beaten via takeover edge: yield —
          // unless the committed manifest is OURS (response-lost publish):
          // deleting consSeg/baseSeg would gut the committed fold
          if manifestCommitted(fs, visiblePath(root, newV)) =>
          VersionedTableImpl.committedReferences(s, fs,
              visiblePath(root, newV), Seq(consSeg, baseSeg)) match {
            case Some(true) => return Some(newV)
            case Some(false) =>
              fs.delete(tmp, true)
              deleteSegment(fs, root, consSeg); deleteSegment(fs, root, baseSeg)
              return None
            case None => fs.delete(tmp, true); return None
          }
        case e: Throwable => // failed without committing: unblock the version
          VersionedTableImpl.releaseClaim(s, root, newV, cid, staleClaimMs); throw e
      }
      Some(newV)
    } finally close()

  /** Sentinel `maxFiles` for [[compactMor]]: scope the fold to buckets
    * holding more than their FAIR SHARE of the table's live files. */
  private[ops] val FairShareScope: Int = -1

  // ------------------------------------------------------------- gates

  private val roots = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private val roRoots = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  def clearCaches(): Unit = {
    roots.clear(); roRoots.clear()
    // the immutable-artifact metadata cache too: entries are sound across
    // clears (immutable paths), but a bench pass that re-pays its index
    // builds must re-pay the footer reads as well or the second pass's
    // fixture timings understate the cold cost
    ManifestIo.MetaCache.clear()
  }

  val NBuckets = 8

  /** Two MOR delta commits (half the log each), then threshold compaction:
    * v1 = first half, v2 = + second half, v3 = compacted. */
  private[graft] def ensureMor(s: SparkSession, dir: String): String =
    Memo.getOrCacheAny(roots, s, dir, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft_mor").toString
      val env = CdcSynth.fromEvents(s, dir)
      val mid = Tables(s, dir, "events")
        .agg(expr("max(event_id) div 2").as("mid"))
      val withMid = env.crossJoin(broadcast(mid))
      val v1 = commitAppend(s, root,
        withMid.filter(col("event_id") < col("mid")), NBuckets)
      val v2 = commitAppend(s, root,
        withMid.filter(col("event_id") >= col("mid")), NBuckets)
      require(v1 == 1 && v2 == 2, s"two delta commits expected: $v1, $v2")
      val v3 = compactMor(s, root, maxFiles = 1, NBuckets)
      require(v3.contains(3), s"compaction commit expected: $v3")
      root
    })

  private def projected(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("last_op"), col("last_seq"),
        col("event_type"), col("value"), col("k"))
      .orderBy(col("user_id"))

  /** q216: the MOR table at v2 — two delta commits, zero base rewrites —
    * must hash-equal DuckDB's one-shot latest-per-key replay of the FULL
    * log (live rows only). */
  def morState(s: SparkSession, dir: String): DataFrame = {
    val root = ensureMor(s, dir)
    projected(readMor(s, root, 2))
  }

  /** q238 fixture: one full-log delta commit, then a FULL compaction
    * (maxFiles = 0 selects every non-empty bucket) — v2 is all base
    * files, so the read-optimized view is exactly current there. */
  private[graft] def ensureRoMor(s: SparkSession, dir: String): String =
    Memo.getOrCacheAny(roRoots, s, dir, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft_mor_ro").toString
      val v1 = commitAppend(s, root, CdcSynth.fromEvents(s, dir), NBuckets)
      require(v1 == 1, s"one delta commit expected: $v1")
      val v2 = compactMor(s, root, maxFiles = 0, NBuckets)
      require(v2.contains(2), s"full compaction expected: $v2")
      root
    })

  /** q238: the READ-OPTIMIZED view (base files only — Hudi's RO query
    * type) over a fully-compacted version must hash-equal the replay:
    * the `kind` selection really serves the complete state when nothing
    * is uncompacted, through the oracle rather than only MorSpec. */
  def morReadOptimized(s: SparkSession, dir: String): DataFrame =
    projected(readMorOptimized(s, ensureRoMor(s, dir), 2))

  /** q217: the COMPACTED version (v3) — same oracle: compaction must be
    * invisible to readers. */
  def morCompacted(s: SparkSession, dir: String): DataFrame = {
    val root = ensureMor(s, dir)
    projected(readMor(s, root, currentVersion(s, root)))
  }

  /** CHANGE FEED between two MOR versions: fold each side latest-per-key
    * (tombstones kept — the fold IS the read-side merge, so the feed sees
    * exactly what a reader would) and diff through the same classification
    * as the COW table's feed ([[VersionedTableImpl.feedOf]]). A MOR user
    * keeps the whole feed-driven maintenance family (q186/q206/q207/q214)
    * without compacting first — the read-side merge cost is the only
    * difference, and a bucket-restricted variant applies the same way. */
  def morChangeFeed(s: SparkSession, root: String, v1: Int, v2: Int): DataFrame =
    VersionedTableImpl.feedOf(
      foldLatest(readRaw(s, root, v1)), foldLatest(readRaw(s, root, v2)))

  /** q223: the v1→v2 MOR feed — must equal DuckDB diffing its own
    * half-log and full-log replays (the q183 contract, through the
    * merge-on-read path). */
  def morFeed(s: SparkSession, dir: String): DataFrame =
    morChangeFeed(s, ensureMor(s, dir), 1, 2)

  /** q218: a 20-key lookup against the UNCOMPACTED v2 (two delta files
    * per touched bucket) through bucket + zone-map pruning — must
    * hash-match DuckDB replaying the log for just those keys. */
  def morLookup(s: SparkSession, dir: String): DataFrame = {
    val keys = (0L until 20L).map(_ * 7L)
    val root = ensureMor(s, dir)
    projected(lookupMor(s, root, 2, keys, NBuckets))
  }

  private[ops] lazy val morLookupSql: String = {
    val keys = (0L until 20L).map(_ * 7L).mkString("(", ", ", ")")
    s"""WITH ${CdcSynth.synthSql},
       |latest AS (
       |  SELECT COALESCE(new_user_id, old_user_id) AS user_id,
       |    max_by(op, seq) AS last_op, max(seq) AS last_seq,
       |    max_by(has_new, seq) AS has_new,
       |    max_by(new_event_type, seq) AS event_type,
       |    max_by(new_value, seq) AS value,
       |    max_by(new_k, seq) AS k
       |  FROM cdc GROUP BY 1)
       |SELECT user_id, last_op, last_seq, event_type, value, k
       |FROM latest WHERE has_new AND user_id IN $keys
       |ORDER BY user_id""".stripMargin
  }

  private[ops] lazy val morSql: String =
    s"""WITH ${CdcSynth.synthSql},
       |latest AS (
       |  SELECT COALESCE(new_user_id, old_user_id) AS user_id,
       |    max_by(op, seq) AS last_op, max(seq) AS last_seq,
       |    max_by(has_new, seq) AS has_new,
       |    max_by(new_event_type, seq) AS event_type,
       |    max_by(new_value, seq) AS value,
       |    max_by(new_k, seq) AS k
       |  FROM cdc GROUP BY 1)
       |SELECT user_id, last_op, last_seq, event_type, value, k
       |FROM latest WHERE has_new
       |ORDER BY user_id""".stripMargin
}

object MorTableOps {
  def queries: Seq[Q] = Seq(
    Q("q216_mor_state", MorTableImpl.morState, Some(MorTableImpl.morSql)),
    Q("q217_mor_compacted", MorTableImpl.morCompacted, Some(MorTableImpl.morSql)),
    Q("q218_mor_zone_lookup", MorTableImpl.morLookup, Some(MorTableImpl.morLookupSql)),
    Q("q223_mor_change_feed", MorTableImpl.morFeed,
      Some(VersionedTableImpl.q183Sql)),
    Q("q238_mor_read_optimized", MorTableImpl.morReadOptimized,
      Some(MorTableImpl.morSql)))
}
