package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import VersionedTableImpl.{Absent, Got, Lineage, Main, Unknown, conditionalCommit,
  conditionalCommitFor, deleteSegment, fsOf, manifestCommitted,
  manifestDataPath, ptrOf, readBack}

/** THE COMMIT PROTOCOL of the versioned lake — the one place a version
  * is claimed, published and decided, for every COW and MOR write path
  * (merges, compaction, rebucket, restore, fast-forward, the WAP and txn
  * promotes, branch forks, MOR appends and folds).
  *
  * CONCURRENT WRITERS (optimistic concurrency, Iceberg-style): every
  * committer does its work against the version it read, then tries to
  * claim the next version number with an atomic create-no-overwrite of
  * `_versions/v{N}.claim`. Exactly one create succeeds; the winner then
  * renames its staged manifest to the visible (or WAP-pending) path — the
  * only writer of that path, so the rename is conflict-free. A loser
  * deletes its staged manifest, waits for the winner's manifest to appear
  * (or the claim to be released by a rejected WAP audit), RE-MERGES
  * against the new current state, and retries — bounded by
  * `maxAttempts`; its first attempt's already-moved data files are
  * unreferenced and vacuum-eligible immediately. A claimant that crashes
  * between claim and manifest rename leaves a stale claim; any later
  * committer breaks a claim older than `staleClaimMs` with no manifest
  * behind it (takeover). This is the engine's analogue of the reference's
  * DynamoDB lease coordination (KCLScheduler.java:105) — arbitration
  * through an atomic store primitive, here the filesystem's atomic
  * create.
  *
  * One [[attempt]] stages the caller's descriptor at a protocol-named
  * tmp path, claims only then (nothing slow is left between claim and
  * publish, so a successful claim PROVES the read version is still
  * current — a racer's publish leaves its claim file behind), publishes,
  * and returns a sealed [[Outcome]]:
  *
  *  - [[Won]]: the publish committed — including a pointer PUT whose
  *    response was lost, which [[publish]]'s read-back recognizes by the
  *    publisher-unique `.data-` dir the pointer names;
  *  - [[Beaten]]: the claim's exclusivity was beaten through the takeover
  *    edge — a racer's manifest holds the version, intact, and ours
  *    re-merges like any lost race instead of dying loudly;
  *  - [[Lost]]: the claim went to a racer; nothing was published.
  *
  * On Beaten and Lost the attempt deletes what it staged: the tmp
  * descriptor and the caller's `own` segments. A publish that fails
  * without committing releases the claim and rethrows. A publish whose
  * pointer state stays UNKNOWN ([[PointerUnknown]]) at a committed
  * destination rethrows with everything stranded and the claim held: the
  * staged artifacts may be a committed version's, so nothing is deleted
  * and nothing is guessed. The won path does no I/O beyond the publish.
  * [[retry]] drives the loops; callers that yield after one attempt
  * (compaction, rebucket, fast-forward, the MOR fold) map a loss to None
  * or Left. Writers that hold their destination by other means publish
  * with no claim step: a pending manifest through [[promote]], a branch
  * fork through [[publishUnclaimed]].
  */
private[ops] object CommitProtocol {

  sealed trait Outcome { def won: Boolean }
  case object Won extends Outcome { val won = true }
  case object Beaten extends Outcome { val won = false }
  case object Lost extends Outcome { val won = false }

  /** [[publish]]'s "pointer state UNKNOWN" abort: the pointer PUT may
    * have landed, so it is never read as a loss. */
  private[ops] final class PointerUnknown(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  /** A fresh protocol-named staging path for a descriptor. */
  private def stagedTmp(root: String): Path = new Path(root,
    s"_versions/.tmp-${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet")

  /** One optimistic attempt at version `v` of lineage `lin`: `stage`
    * writes the descriptor at the tmp path it is given; the attempt then
    * claims `v` and publishes to the visible path (or the WAP-pending
    * path when `pending`). `own` names the segments this attempt wrote
    * for itself; they are deleted with the tmp descriptor on a loss. */
  def attempt(s: SparkSession, root: String, v: Int, what: String,
      lin: Lineage = Main, pending: Boolean = false, own: Seq[String] = Nil,
      staleClaimMs: Long = 60000L)(stage: Path => Unit): Outcome = {
    val fs = fsOf(s, root)
    val tmp = stagedTmp(root)
    stage(tmp)
    val dest = if (pending) lin.pending(root, v) else lin.visible(root, v)
    val outcome = claimVersionId(s, root, v, staleClaimMs, lin) match {
      case None => Lost
      case Some(cid) =>
        try { publish(fs, tmp, dest, what); Won }
        catch {
          case u: PointerUnknown if manifestCommitted(fs, dest) => throw u
          case _: IllegalStateException if manifestCommitted(fs, dest) => Beaten
          case e: Throwable => releaseClaim(s, root, v, cid, staleClaimMs, lin); throw e
        }
    }
    if (!outcome.won) {
      fs.delete(tmp, true)
      own.foreach(deleteSegment(fs, root, _))
    }
    outcome
  }

  /** Promote a committed PENDING manifest to its `visible` path — the
    * WAP and txn publish, with no claim step: the pending holds v's claim,
    * so only this promote, or another recoverer's of the same txn record,
    * can commit `visible`. A failed promote that leaves `visible`
    * committed is therefore that same promote, landed: it stands, and the
    * pending pointer it left unconsumed is dropped. */
  def promote(fs: org.apache.hadoop.fs.FileSystem, pending: Path,
      visible: Path, what: String): Unit =
    try publish(fs, pending, visible, what)
    catch { case _: IllegalStateException if manifestCommitted(fs, visible) =>
      fs.delete(ptrOf(pending), false)
    }

  /** Stage a descriptor and publish it at `dest` with no claim step, for
    * a writer that holds `dest` by other means (a branch fork, after its
    * exclusive ref create). Any failure propagates: a `dest` already
    * committed may be a crashed earlier writer's. */
  def publishUnclaimed(s: SparkSession, root: String, dest: Path,
      what: String)(stage: Path => Unit): Unit = {
    val tmp = stagedTmp(root)
    stage(tmp)
    publish(fsOf(s, root), tmp, dest, what)
  }

  /** Drive `attempt` until it commits: Right ends the loop, Left(v) is a
    * loss at version v — wait for that version's outcome, then try again,
    * at most `maxAttempts` times in all. */
  def retry[T](s: SparkSession, root: String, what: String, maxAttempts: Int,
      staleClaimMs: Long, lin: Lineage = Main)(attempt: => Either[Int, T]): T = {
    @annotation.tailrec def loop(n: Int): T = attempt match {
      case Right(t) => t
      case Left(v) =>
        if (n >= maxAttempts)
          throw new IllegalStateException(s"$what lost $maxAttempts " +
            s"optimistic attempts at $root (last target ${lin.prefix}$v)")
        awaitOutcome(s, root, v, staleClaimMs, lin)
        loop(n + 1)
    }
    loop(1)
  }

  /** Atomically claim version v. Exactly one concurrent caller wins the
    * create-no-overwrite; a stale claim (older than `staleClaimMs`, no
    * visible or pending manifest behind it) is broken and re-claimed.
    * Claims carry a CONTENT identity (a uuid) because the takeover
    * re-validation below must recognize the file it renamed, and mtime
    * cannot do that on an object store: "rename" is copy+delete there and
    * the copy gets a FRESH Last-Modified, so an mtime re-check would
    * always read "live" and the stale claim could never be broken — a
    * takeover LIVELOCK (found by the objstore suite the moment the shim's
    * conditional PUT became honest). Content survives any copy.
    *
    * Returns the claim's content identity on success — what
    * [[releaseClaim]] needs to give the version back deterministically
    * after a publish that failed without committing (instead of wedging
    * every writer behind the staleness window). */
  private[ops] def claimVersionId(s: SparkSession, root: String, v: Int,
      staleClaimMs: Long, lin: Lineage = Main): Option[String] = {
    val fs = fsOf(s, root)
    val claim = lin.claim(root, v)
    fs.mkdirs(claim.getParent)
    def tryCreate(): Option[String] = {
      val id = java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        fs match {
          case _: org.apache.hadoop.fs.LocalFileSystem |
               _: org.apache.hadoop.fs.RawLocalFileSystem =>
            // RawLocalFileSystem's create(overwrite=false) is CHECK-THEN-
            // ACT, not atomic: two racers can both pass its exists check
            // and both believe they hold the claim — a double publish and
            // a lost batch (observed as a rare MorSpec race flake, round
            // 15: both concurrent appenders returned the same version).
            // POSIX O_CREAT|O_EXCL is the real primitive — exactly one
            // creator wins — and nio's CREATE_NEW maps to it. Only the
            // genuine local fs takes this path: the object-store shims
            // (and any wrapped scheme) implement their conditional PUT
            // honestly and must keep being exercised through it.
            java.nio.file.Files.write(
              java.nio.file.Paths.get(claim.toUri.getPath),
              id.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          case _ =>
            val out = fs.create(claim, false)
            try out.write(id.getBytes("UTF-8"))
            finally out.close()
        }
        Some(id)
      }
      catch { case _: java.io.IOException =>
        // RESPONSE-LOST disambiguation (the publish-side lesson applied
        // here): the conditional PUT may have landed with the response
        // lost. Reporting a loss then leaves OUR OWN claim blocking the
        // version until someone ages it past staleClaimMs — a self-
        // inflicted takeover stall. The claim carries a uuid precisely so
        // identity is readable back: ours = we hold it. An UNKNOWN
        // read-back (the read path itself failing, not a positive
        // absence) gets a short bounded retry before giving up: the
        // give-up side is SAFE (single-holder is preserved — we only
        // ever report a claim we positively proved is ours), it just
        // wedges this writer behind its own landed claim until the
        // staleness window, so a transient read blip should not pay it.
        var st = readBack(fs, claim)
        var a = 0
        while (st == Unknown && a < 3) {
          a += 1; Thread.sleep(50L * a); st = readBack(fs, claim)
        }
        st match {
          case Got(c) if c == id => Some(id)
          case _ => None // a racer's, positively absent, or still unknown
        }
      }
    }
    val first = tryCreate()
    if (first.isDefined) return first
    val published = manifestCommitted(fs, lin.visible(root, v)) ||
      manifestCommitted(fs, lin.pending(root, v))
    // Sample the candidate claim's CONTENT IDENTITY BEFORE the staleness
    // determination: an id read after deciding "stale" could belong to a
    // racer's FRESH claim (racer completes a whole takeover — break + new
    // claim — between our mtime check and our id read), and the rename
    // re-validation below would then treat the fresh claim as the stale
    // one it may steal. An id sampled first can never name a claim
    // created after the staleness decision, so "renamed file's id ==
    // checkedId" really means "the file we judged stale". An EMPTY id is
    // legal (a claimant that crashed between create and write leaves a
    // contentless claim, which must stay takeover-able or the version
    // wedges forever) and still safe: a racer's fresh claim always
    // carries a uuid, so it can never match "". An UNKNOWN read-back
    // (read path failing — distinct from a positive absence) forfeits
    // the takeover attempt entirely: the aside-matching below would have
    // to compare against content we never saw, and "" as a stand-in
    // could steal a live claim through the empty-empty branch.
    val checkedState = if (published) Absent else readBack(fs, claim)
    if (!published && checkedState == Unknown) return None
    val checkedId = checkedState match { case Got(c) => c; case _ => "" }
    if (!published && fs.exists(claim) &&
        System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime > staleClaimMs) {
      // Takeover: claimant died pre-publish. Remove the stale claim by
      // RENAME, not delete — delete-then-create would let two takeover
      // racers both "win" (A deletes, A creates, B deletes A's LIVE
      // claim, B creates), breaking the single-holder invariant. A
      // rename succeeds for exactly one racer; everyone then competes
      // through the same create-no-overwrite.
      //
      // The rename alone is NOT enough: between OUR staleness check and
      // OUR rename, another racer may have broken the stale claim and
      // created its own FRESH one — our rename then steals a LIVE claim
      // and two holders publish the same version (caught loudly by
      // [[publish]]'s fail-closed check; VersionedSpec's takeover race
      // hit exactly this). So the file we actually renamed is re-validated
      // by CONTENT identity against `checkedId` — sampled ABOVE, before
      // the staleness determination (mtime would lie after a copy-based
      // rename — see the scaladoc): same id ⇒ the dead claimant's file,
      // proceed to compete; different id ⇒ a racer's fresh claim — give
      // it back (or, if the path was re-created in the window, drop
      // ours — the new holder stands) and report no claim.
      val aside = new Path(root, s"_versions/.dead-claim-${lin.prefix}$v-" +
        java.util.UUID.randomUUID().toString.replace("-", ""))
      try {
        if (fs.rename(claim, aside)) {
          val asideState = readBack(fs, aside)
          val asideId = asideState match { case Got(c) => c; case _ => "" }
          // an UNKNOWN aside read-back (read path failing) routes to the
          // give-back branch below via the non-match: we renamed a file
          // whose identity we cannot verify, so the only safe move is to
          // put it back and report no claim.
          // an EMPTY id cannot discriminate on plain POSIX: a racer's
          // fresh claim is briefly contentless there (create → write is
          // not atomic), so "" == "" could steal a live mid-create claim —
          // fall back to the renamed file's OWN mtime, trustworthy on
          // POSIX where rename preserves it. On conditional-PUT stores the
          // empty-mid-create window cannot exist (the PUT is atomic WITH
          // its body), so an empty aside really is the dead claim we
          // judged stale — and the mtime is NOT consulted there, because a
          // copy-based rename refreshes it and would livelock the
          // takeover (the round-11 lesson, re-learned by this round's
          // objstore racing suite).
          val matches =
            if (asideState == Unknown) false
            else if (checkedId.nonEmpty) asideId == checkedId
            else asideId.isEmpty && (
              conditionalCommit(fs) ||
              fs.exists(new Path(root, "_commit_mode")) ||
              scala.util.Try(
                System.currentTimeMillis() -
                  fs.getFileStatus(aside).getModificationTime > staleClaimMs)
                .getOrElse(false))
          if (matches)
            fs.delete(aside, false) // genuinely the dead claimant's file
          else {
            if (fs.exists(claim) || !fs.rename(aside, claim))
              fs.delete(aside, false)
            return None
          }
        }
      } catch { case _: java.io.IOException => () }
      tryCreate()
    } else None
  }

  /** Best-effort release of OUR claim on v after a publish that failed
    * WITHOUT committing: delete the claim only while its content still
    * carries `id` (a takeover thief's fresh claim stays put), so the
    * version unblocks immediately instead of wedging every writer behind
    * the staleness window. Quiet on I/O failure — staleness remains the
    * backstop, exactly as for a crashed claimant.
    *
    * AGE-GUARDED: the read-content-then-delete pair is non-atomic, and
    * once the claim's age exceeds `staleClaimMs` a takeover racer may
    * legally swap it between our read and our delete — deleting the
    * racer's LIVE claim would let a third writer claim the same version
    * and end in a spurious loud "claim invariant" abort for one of them.
    * A claim that old is about to be broken by staleness anyway, so the
    * release buys nothing there: skip it. Inside the window no takeover
    * is legal, so read-then-delete cannot race one. */
  private[ops] def releaseClaim(s: SparkSession, root: String, v: Int,
      id: String, staleClaimMs: Long = 60000L, lin: Lineage = Main): Unit =
    try {
      val fs = fsOf(s, root)
      val claim = lin.claim(root, v)
      val age = System.currentTimeMillis() -
        fs.getFileStatus(claim).getModificationTime
      if (age <= staleClaimMs) {
        readBack(fs, claim) match {
          case Got(cur) if cur == id => fs.delete(claim, false)
          case _ => () // a thief's claim, absent, or unreadable: leave it
        }
      }
    } catch { case _: java.io.IOException => () }

  /** After losing a claim on v: wait for the winner's VISIBLE manifest to
    * appear (then the retry re-merges against it), for the claim to be
    * released (rejected WAP audit — v is up for grabs again), or for the
    * claim to go stale with nothing behind it (dead claimant — takeover
    * candidate). A PENDING manifest keeps the wait alive: the version
    * number is reserved until its audit publishes or rejects. Bounded by
    * the staleness window plus slack. */
  private def awaitOutcome(s: SparkSession, root: String, v: Int,
      staleClaimMs: Long, lin: Lineage = Main): Unit = {
    val fs = fsOf(s, root)
    val deadline = System.currentTimeMillis() + staleClaimMs + 10000L
    while (System.currentTimeMillis() < deadline) {
      if (manifestCommitted(fs, lin.visible(root, v)) ||
        !fs.exists(lin.claim(root, v))) return
      val pendingAudit = manifestCommitted(fs, lin.pending(root, v))
      val stale = !pendingAudit &&
        System.currentTimeMillis() - fs.getFileStatus(lin.claim(root, v)).getModificationTime > staleClaimMs
      if (stale) return
      Thread.sleep(25L)
    }
  }

  /** Checked publish: the single commit point — an atomic rename, or in
    * conditional-create mode one create-exclusive pointer PUT (see the
    * mode note at [[VersionedTableImpl.conditionalCommit]]) — followed by
    * an mtime stamp: rename PRESERVES the source file's mtime on
    * POSIX/HDFS, so without the stamp a WAP manifest staged at 10:00 and
    * published at 10:10 would read as committed at 10:00 and
    * [[VersionedTableImpl.versionAsOf]] would resolve state that was not
    * yet visible at the queried instant. A crash between the commit point
    * and the stamp leaves that (documented, one-commit) skew. */
  private[ops] def publish(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dest: Path, what: String): Unit = {
    // FAIL CLOSED on a pre-existing destination: local-fs rename(2)
    // OVERWRITES an existing target and returns true, so the rename result
    // alone can never catch a double-publish where it matters most — it
    // would silently clobber a committed manifest (a lost batch). The
    // explicit existence check makes any claim-protocol violation loud;
    // the small check-then-rename window is acceptable defense-in-depth
    // BEHIND the claim protocol (which is what actually serializes
    // publishers), not a replacement for it. In conditional-create mode
    // the pointer PUT itself fails atomically on an existing destination —
    // there the fail-closed check IS the commit primitive.
    if (manifestCommitted(fs, dest))
      throw new IllegalStateException(
        s"$what held the claim but $dest already exists — claim invariant " +
          "violated (refusing to overwrite a committed manifest)")
    if (conditionalCommitFor(fs, dest)) {
      // `tmp` is either a freshly staged manifest dir, or (promoting a
      // WAP/txn pending to visible) an already-committed POINTER whose
      // data dir is immutable and stays where it is.
      val tmpPtr = ptrOf(tmp)
      val promoting = fs.exists(tmpPtr)
      val data: Path =
        if (promoting)
          manifestDataPath(fs, tmp).getOrElse(throw new IllegalStateException(
            s"$what: pending pointer $tmpPtr vanished mid-promote"))
        else {
          // rename is allowed to be non-atomic here: the target name is
          // dot-prefixed (invisible to version listings), publisher-unique
          // (no shared mutable path even if two takeover racers publish
          // the same version), and nothing reads it until the pointer —
          // the actual commit point — names it.
          val d = new Path(dest.getParent, s".data-${dest.getName}-" +
            java.util.UUID.randomUUID().toString.replace("-", ""))
          if (!fs.rename(tmp, d))
            throw new IllegalStateException(
              s"$what: staging rename to $d failed")
          d
        }
      val destPtr = ptrOf(dest)
      // The pointer PUT's IOException is AMBIGUOUS on a real store: the
      // conditional PUT can land server-side with only the RESPONSE lost,
      // and treating every IOException as "lost" then deletes the data
      // dir the COMMITTED pointer names — destroying a live version
      // (found by the round-14 fault-injection soak the moment
      // response-lost faults were injected). Disambiguate by CONTENT: the
      // data-dir name is publisher-unique (uuid-suffixed), so reading the
      // pointer back says exactly who won. Absent pointer = the PUT
      // genuinely did not land; since we still hold the claim (nobody
      // else may publish this version outside the takeover edge), a
      // bounded in-place retry is safe and keeps a transient 5xx from
      // aborting an otherwise-finished commit.
      var won = false
      var beaten = false
      var attempt = 0
      while (!won && !beaten) {
        attempt += 1
        try {
          val out = fs.create(destPtr, false) // THE commit point
          try out.write(data.getName.getBytes("UTF-8")) finally out.close()
          won = true
        } catch { case e: java.io.IOException =>
          readBack(fs, destPtr) match {
            case Got(n) if n == data.getName => won = true // response lost
            case Got(_) => beaten = true // a racer's pointer stands
            case _ if attempt < 5 => Thread.sleep(50L * attempt)
            case Absent =>
              // POSITIVELY absent (the store answered "no such object"):
              // the PUT genuinely never landed — the staged copy is
              // unreferenced garbage and may be deleted
              if (!promoting) fs.delete(data, true)
              throw new IllegalStateException(
                s"$what: pointer PUT to $destPtr kept failing with the " +
                  "pointer positively absent (store rejecting writes?)", e)
            case Unknown =>
              // the READ path is failing too: the PUT may have landed with
              // only the response lost, in which case the pointer NAMES
              // `data` and deleting it would destroy the committed
              // version. STRAND the uuid-named dir instead — if the
              // pointer stands, the dir IS the version's data; if it turns
              // out absent, the age-gated [[VersionedTableImpl.sweepStranded]] reclaims it
              // (it positively re-checks the pointer before touching a
              // `.data-` dir).
              throw new PointerUnknown(
                s"$what: pointer PUT to $destPtr failed and the read-back " +
                  s"also fails after $attempt attempts — pointer state " +
                  s"UNKNOWN; leaving staged data dir $data for " +
                  "sweepStranded (deleting it could destroy a committed " +
                  "version if the PUT landed response-lost)", e)
          }
        }
      }
      if (beaten) {
        if (!promoting) fs.delete(data, true) // our staged copy is garbage
        throw new IllegalStateException(
          s"$what held the claim but $dest already exists — claim invariant " +
            "violated (refusing to overwrite a committed manifest)")
      }
      if (promoting) fs.delete(tmpPtr, false) // consume the pending pointer
      try fs.setTimes(destPtr, System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () } // stamp is best-effort
    } else {
      if (!fs.rename(tmp, dest))
        throw new IllegalStateException(
          s"$what held the claim but the manifest rename to $dest failed — " +
            "claim invariant violated")
      try fs.setTimes(dest, System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () } // stamp is best-effort
    }
  }
}
