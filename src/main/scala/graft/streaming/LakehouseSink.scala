package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.LakehouseOpsImpl

/** Streaming copy-on-write MERGE sink — the lakehouse sibling of the MV
  * sink ([[Sinks.mvSink]]): instead of upserting rows one at a time into a
  * keyed store (reference: KeyspacesViewTargetMapper.java applies
  * latest-wins upsert/delete per CDC record against Keyspaces), each
  * micro-batch of CDC envelopes folds into a `bucket=`-partitioned parquet
  * table via [[LakehouseOpsImpl.cowMerge]] — reading and rewriting ONLY
  * the buckets the batch touches.
  *
  * Exactly-once table state from at-least-once delivery: `foreachBatch`
  * replays the in-flight micro-batch after a crash that lands between the
  * merge and the checkpoint commit, and `cowMerge` is IDEMPOTENT — an
  * update wins only when its `stream_sequence_number` beats the table's
  * `last_seq`, so re-merging already-applied envelopes is a no-op
  * (LakehouseSpec pins this). The first micro-batch bootstraps the table
  * (MERGE into an absent base is CREATE). StreamLakehouseSpec proves N
  * streamed micro-batches — with a kill/restart from checkpoint in the
  * middle — produce a table row-equal to the one-shot q179 replay of the
  * same envelope log.
  *
  * At scale each micro-batch costs O(touched buckets), not a table
  * rewrite; the merge join hash-partitions on the key within those
  * buckets. Untouched buckets are never opened.
  */
object LakehouseSink {

  /** Start an AvailableNow drain of `envStream` (CDC envelope schema) into
    * the bucketed table at `basePath`. Restartable from `checkpointDir`. */
  def cowSink(envStream: DataFrame, basePath: String, checkpointDir: String,
      nBuckets: Int): StreamingQuery =
    envStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        LakehouseOpsImpl.cowMerge(batch.sparkSession, basePath, batch, nBuckets)
        ()
      }
      .start()

  /** Stable per-stream identity for the exactly-once commit markers,
    * derived from the CHECKPOINT directory: micro-batch ids are only
    * meaningful within one checkpoint lineage, so the marker key must
    * change exactly when the lineage does. A bare `batch-$id` marker is
    * wrong twice over (the Delta-txn lesson: idempotent writes key on
    * (appId, version), never version alone): a checkpoint RESET restarts
    * ids at 0, finds the old markers, and silently SKIPS committing the
    * new data; and a SECOND query writing the same table root collides
    * with the first query's ids. Keying markers under a checkpoint-derived
    * appId gives both events a fresh marker namespace. Callers with a
    * durable notion of identity can pass their own appId instead. */
  def appIdFor(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** One micro-batch of the VERSIONED sink, marker-gated for exactly-once
    * history. Order inside the gate matters for the feed contract:
    *
    *  1. [[graft.ops.VersionedTableImpl.repairFeeds]] — a PRIOR run that
    *     crashed between its commit and its feed emission left a committed
    *     version with no change data files; on replay the re-commit is
    *     state-identical (seq-gated) so ITS diff is empty, and without
    *     repair the crashed version's changes would never reach `_feed`
    *     (downstream consumers would silently lose the batch). Repair
    *     emits the missing artifact post-hoc (all-buckets diff — correct,
    *     just not touched-pruned) before anything else happens.
    *  2. `commitMerge`, then [[graft.ops.VersionedTableImpl.emitFeed]] for
    *     the new version (touched buckets only), then the marker — the
    *     marker is LAST, so any crash inside the gate replays the whole
    *     gate, and every step in it is idempotent (seq-gated merge,
    *     per-version feed overwrite, marker create). The feed's bucket
    *     list is the one the WINNING commit attempt wrote, numbered under
    *     that attempt's bucket count: a rebucket that takes the version
    *     this batch first targeted cannot make the feed diff buckets of
    *     the old numbering.
    *
    * The envelope batch is persisted for the commit, so the touched-bucket
    * collect and the merge write evaluate the source once; it is
    * unpersisted before returning, whatever happens. (The envelopes, not
    * the latest-per-key reduction, are what is cached: caching the
    * reduction hides its shuffle from AQE's partition coalescing, and the
    * merge write then fans every bucket out over all shuffle partitions.)
    *
    * Compaction runs OUTSIDE the gate (a replayed batch re-checks the
    * pure-metadata threshold harmlessly); a compaction version is
    * state-identical, so it records an EMPTY feed artifact — without one,
    * every later repair scan would recompute its empty diff. */
  private[graft] def versionedBatch(batch: DataFrame, id: Long, root: String,
      appId: String, nBuckets: Int, compactOver: Option[Int],
      emitFeed: Boolean, branch: Option[String] = None,
      legacyAppId: Option[String] = None): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, s"_commits/$appId/batch-$id")
    // UPGRADE fallback: markers written before appIds were sink-scoped live
    // under the bare checkpoint-derived id. Honoring them here means the
    // first replayed batch after an upgrade is not re-committed (which
    // would mint a duplicate version + duplicate feed/compaction work).
    // Callers pass a legacy id ONLY for single-sink configs: in a fanout a
    // legacy marker cannot say WHICH leg committed, so each leg must judge
    // by its own scoped marker. New markers are always written scoped.
    val committed = fs.exists(marker) || legacyAppId.exists(l =>
      fs.exists(new org.apache.hadoop.fs.Path(root, s"_commits/$l/batch-$id")))
    if (!committed) {
      // a fanout has already persisted its batch for every leg: leave
      // that cache (and its unpersist) to the fanout
      val own = batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      if (own) batch.persist()
      try branch match {
        case Some(b) =>
          // STAGED ingestion: every epoch commits to the branch; main
          // readers see nothing until an audited publishBranch/fastForward.
          // No feed/compaction here — both are main-lineage maintenance
          // that runs at (or after) the publish.
          graft.ops.VersionedTableImpl.commitMergeToBranch(s, root, b, batch, nBuckets)
        case None =>
          if (emitFeed) // amortized O(1) probes per epoch (watermark below the scan)
            graft.ops.VersionedTableImpl.repairFeedsIncremental(s, root, nBuckets)
          // the bucket count is the TABLE's (manifest-recorded, resolved
          // per commit attempt), not the caller's parameter — a rebucketed
          // table keeps streaming correctly
          val (v, touched) =
            graft.ops.VersionedTableImpl.commitMergeTouched(s, root, batch, nBuckets)
          if (emitFeed && touched.nonEmpty)
            graft.ops.VersionedTableImpl.emitFeed(s, root, v, touched)
      } finally if (own) batch.unpersist()
      fs.mkdirs(marker.getParent)
      fs.create(marker).close()
    }
    if (branch.isEmpty) compactOver.foreach { t =>
      val cv = graft.ops.VersionedTableImpl.compactVersion(s, root, t, nBuckets)
      if (emitFeed) cv.foreach(c =>
        graft.ops.VersionedTableImpl.emitEmptyFeed(s, root, c))
    }
  }

  /** One micro-batch of the MOR sink: delta-append inside the marker gate,
    * threshold compaction outside it (pure-metadata check, state-identical
    * commit — idempotent under replay without a marker of its own). */
  private[graft] def morBatch(batch: DataFrame, id: Long, root: String,
      appId: String, nBuckets: Int, compactOver: Option[Int],
      legacyAppId: Option[String] = None): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, s"_commits/$appId/batch-$id")
    // same single-sink legacy-marker fallback as [[versionedBatch]]
    val committed = fs.exists(marker) || legacyAppId.exists(l =>
      fs.exists(new org.apache.hadoop.fs.Path(root, s"_commits/$l/batch-$id")))
    if (!committed) {
      graft.ops.MorTableImpl.commitAppend(s, root, batch, nBuckets)
      fs.mkdirs(marker.getParent)
      fs.create(marker).close()
    }
    compactOver.foreach(t =>
      graft.ops.MorTableImpl.compactMor(s, root, t, nBuckets))
  }

  /** VERSIONED form: each micro-batch commits as a new table version
    * ([[graft.ops.VersionedTableImpl.commitMerge]]), so the stream leaves
    * a time-travelable history and a per-batch change feed behind instead
    * of only the final state. Version history is made exactly-once with a
    * per-(appId, batch) marker (see [[appIdFor]] for why batch id alone is
    * not an identity): the seq-gated merge already makes REPLAYED rows a
    * state no-op, but without the marker a replay would still append a
    * redundant (state-identical) version; the marker is written after the
    * commit, so a crash between the two re-commits once — state stays
    * correct, and at most one no-op version can ever exist per crash.
    *
    * MAINTENANCE rides the same hook. Every merge rewrites each touched
    * bucket WHOLE (the new manifest drops the bucket's previous files;
    * history keeps them), but as one file per write task that held the
    * bucket's rows — so a bucket's live file count is the last rewrite's
    * write fan-out (shuffle partitions AQE did not coalesce, a
    * `maxRecordsPerFile` cap), and every file is one more footer for the
    * next epoch's merge and feed reads. With `compactOver = Some(t)`, each
    * commit is followed by [[graft.ops.VersionedTableImpl.compactVersion]]
    * which, when any bucket's live file count exceeds t, rewrites just
    * those buckets as a NEW state-identical version, one file each
    * (stage-then-swap, the claim protocol, old versions untouched). The
    * check is driver-side metadata and runs no Spark job; a replayed batch
    * re-runs it harmlessly (counts already below the threshold ⇒ no-op),
    * so compaction is exactly-once-in-effect across restarts without its
    * own marker.
    *
    * With `emitFeed = true` (default) each merge commit also materializes
    * its CHANGE DATA FILES under `root/_feed/v{N}.parquet`
    * ([[graft.ops.VersionedTableImpl.emitFeed]]): downstream consumers
    * stream the table's own history with a plain parquet `readStream` on
    * that dir — the lakehouse doubles as a CDC source. The feed diff reads
    * only the touched buckets, so emission costs O(touched) like the merge
    * itself; the per-version overwrite is idempotent under crash-replay,
    * and a crash BETWEEN commit and emission is repaired on the next batch
    * ([[versionedBatch]] step 1) — no version's changes can be lost from
    * the feed. Compaction versions record an empty artifact. */
  def versionedSink(envStream: DataFrame, root: String, checkpointDir: String,
      nBuckets: Int, compactOver: Option[Int] = None,
      emitFeed: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    envStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        versionedBatch(batch, id, root, appId, nBuckets, compactOver, emitFeed)
      }
      .start()
  }

  /** STAGED streaming ingestion: every micro-batch commits to the named
    * BRANCH ([[graft.ops.VersionedTableImpl.commitMergeToBranch]]) — main
    * readers see none of it — and the caller publishes the whole drain in
    * ONE audited atomic step afterwards
    * ([[graft.ops.VersionedTableImpl.publishBranch]]). This is the
    * stream-scale write-audit-publish: per-epoch WAP
    * (commitMergeExpecting) audits each micro-batch alone; branch staging
    * audits the COMPOSED state of the entire drain, which is what a
    * nightly-ingest SLA actually gates on (per-epoch checks can each pass
    * while the night's total violates a budget). The branch must already
    * exist ([[graft.ops.VersionedTableImpl.createBranch]]); same
    * per-(appId, batch) markers as [[versionedSink]], so replays re-stage
    * nothing. */
  def stagedSink(envStream: DataFrame, root: String, branch: String,
      checkpointDir: String, nBuckets: Int): StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    envStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        versionedBatch(batch, id, root, appId, nBuckets,
          compactOver = None, emitFeed = false, branch = Some(branch))
      }
      .start()
  }

  /** MERGE-ON-READ form: each micro-batch commits as DELTA files
    * ([[graft.ops.MorTableImpl.commitAppend]]) — no base read, no bucket
    * rewrite, commit cost O(batch). This is the shape a high-throughput
    * CDC stream wants: the COW sinks above pay a touched-bucket rewrite
    * per epoch (hot buckets are rewritten every epoch), the MOR sink
    * defers that cost to readers and to the maintenance hook, which folds
    * any bucket whose file count crossed `compactOver` into one base file
    * (a state-identical new version through the claim protocol).
    *
    * Exactly-once: state is append-idempotent (a replayed batch's rows
    * carry the same seqs, so the read-side latest-per-key fold is
    * unchanged), and the same per-(appId, batch) marker as
    * [[versionedSink]] keeps the HISTORY exactly-once — a replay appends
    * neither rows nor a version. The compaction check is pure metadata and
    * no-ops when nothing is over threshold, so it needs no marker of its
    * own. */
  def morSink(envStream: DataFrame, root: String, checkpointDir: String,
      nBuckets: Int, compactOver: Option[Int] = None): StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    envStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        morBatch(batch, id, root, appId, nBuckets, compactOver)
      }
      .start()
  }
}
