package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The storage seam under the metadata log: CONDITIONAL APPEND.
  *
  * The fencing protocol (writer epochs, sink-epoch high-water marks —
  * SURVEY §2.1 #21/#22) needs exactly two storage primitives: read the
  * small metadata log with a version tag, and append iff the log is
  * still at that tag. POSIX gives both via an advisory lock + a
  * content digest; object storage gives both via GET (ETag) + conditional PUT
  * (If-Match — S3 and R2 both ship it). Everything above this trait —
  * fence checks, idempotent epoch replay, overlap validation — is
  * storage-agnostic and lives in [[MetaCommits]], so moving a stream
  * from a shared filesystem to a bucket swaps THIS implementation and
  * nothing else.
  *
  * Contract:
  *   - `readWithTag` returns the complete log (whole lines only — a
  *     committed append is visible atomically or not at all) and an
  *     opaque tag identifying the committed log a decision ran
  *     against: any commit that changes the log changes the tag (an
  *     implementation may identify by CONTENT, ETag-style — two
  *     byte-identical logs sharing a tag is safe, since a decision
  *     valid against one is valid against the other).
  *   - `appendIf(tag, lines)` commits atomically iff the log is still
  *     at `tag`; a lost race returns false and commits nothing.
  *   - `clear()` resets the log to empty (truncate-reset — the
  *     rebuild/destroy path; S3: DELETE).
  *
  * STATED REQUIREMENTS for a real bucket adapter (the semantics the
  * conformance battery in MetaStoreSpec simulates and the protocols
  * are proven against):
  *   1. Read-after-write GET: `readWithTag` after a committed write
  *      returns that write. S3 (since 2020) and R2 both provide this;
  *      an eventually-consistent metadata GET is NOT supported. (LIST
  *      may lag — the segment DATA plane tolerates that, see
  *      [[SegmentStore]]; the metadata log never relies on LIST.)
  *   2. Spurious conditional-write failure is allowed: a bucket may
  *      reject a conditional PUT even though the precondition held
  *      (S3 returns 409 ConcurrentModification when attempts overlap
  *      in flight). `commit()` re-reads and retries, so a spurious
  *      reject costs one round trip, never correctness.
  *   3. Ambiguous outcomes resolve as LOST: a PUT whose response never
  *      arrived (timeout after the write landed) must be treated as
  *      failed and retried through a fresh read. This is safe because
  *      every protocol decision is replay-idempotent: segment adds key
  *      on unique names/offsets (duplicate lines replay to identical
  *      state and the next checkpoint drops them), sink epochs are
  *      high-water marks, a claim retry lands a FRESH higher epoch
  *      (never assumes the ambiguous claim was its own — two claimants
  *      writing byte-identical lines are indistinguishable, so
  *      assuming ownership would split-brain), and the bulk commit
  *      recognizes its own landed segments (see
  *      [[MetaCommits.commitBulk]]). A protocol-level return value may
  *      read false ("replay") for a commit that physically landed here
  *      — callers treat false as benign by design.
  */
trait MetaStore {

  /** Snapshot the log: (lines, tag). An absent log is (empty, 0). */
  def readWithTag(): (Vector[String], Long)

  /** The log's CURRENT tag, as cheaply as the backend allows — the
    * existence check ([[StreamStores.streamExists]]) and the first half of
    * [[readIfMoved]]'s default. Default = `readWithTag()._2` (pay the
    * full read); backends with a metadata-only version check override
    * it (S3: a HEAD returns the ETag for ~zero bytes). */
  def probeTag(): Long = readWithTag()._2

  /** The log's snapshot iff it is no longer at `tag`; None while it
    * is — the poll probe ([[StreamLog.poll]] calls this every poll
    * interval). Default: [[probeTag]], then [[readWithTag]] if the tag
    * moved. Backends that can answer both in one round trip override
    * it: S3 sends one GET with `If-None-Match` (304 = not moved, 200 =
    * the new log), POSIX and in-memory stores read once and compare. */
  def readIfMoved(tag: Long): Option[(Vector[String], Long)] =
    if (probeTag() == tag) None else Some(readWithTag())

  /** Append `lines` iff the log is still at `tag`. True = committed. */
  def appendIf(tag: Long, lines: Seq[String]): Boolean

  /** (tagItLandedOn → tagItMovedTo) of this store's last SUCCESSFUL
    * conditional write ((0,0) = none yet). Lets a caller that tracks
    * its own replay freshness fast-forward WITHOUT re-reading: if the
    * pair's FIRST element equals the tag the caller's state was
    * replayed at, the committed log is exactly caller-state + the
    * appended lines, and the caller may adopt the SECOND element as
    * its new replay tag. [[StreamLog]] does so after its own commits:
    * its poll probe then skips the redundant replay (ADVICE r14), and
    * its next metadata commit makes its first conditional attempt at
    * the adopted tag without reading the log. A stale adopted tag costs
    * speed, not safety: it only loses the compare-and-append, and the
    * loss falls back to a re-read. ONE
    * volatile tuple, written atomically inside the successful
    * appendIf/replaceIf where both tags are in hand — two separate
    * fields would let an interleaved commit from ANOTHER handle
    * sharing this store instance (mem: roots) pair our read tag with
    * its commit tag, silently hiding its lines from the adopter (r15
    * review). */
  @volatile protected var lastCommitInfoVar: (Long, Long) = (0L, 0L)
  final def lastCommitInfo: (Long, Long) = lastCommitInfoVar

  /** Truncate-reset the log (crash rebuild / destroy). */
  def clear(): Unit

  /** Replace the WHOLE log with `lines` iff still at `tag` — the
    * checkpoint primitive (S3: conditional PUT of the full object with
    * If-Match; POSIX: tmp-file + atomic move under the lock, so
    * lock-free readers see the old or new log, never a partial one).
    * True = committed; a lost race replaces nothing. */
  def replaceIf(tag: Long, lines: Seq[String]): Boolean

  /** Drive one conditional commit to completion: read, let `decide`
    * inspect the CURRENT log (it may throw to refuse — fencing — or
    * return None when there is nothing left to do — an already-
    * committed epoch replay), then compare-and-append; on a lost race,
    * re-read and re-decide against the interloper's log. Lock-free
    * progress: a CAS failure means some OTHER writer committed, so the
    * system advances even when this commit retries. Returns true iff
    * an append landed here.
    */
  final def commit(maxAttempts: Int = 64)
                  (decide: Vector[String] => Option[Seq[String]]): Boolean = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val (cur, tag) = readWithTag()
      decide(cur) match {
        case None => return false
        case Some(lines) =>
          if (appendIf(tag, lines)) return true
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"metadata conditional append lost $maxAttempts consecutive races — " +
        "pathological commit contention on one stream's metadata log")
  }
}

/** POSIX filesystem implementation — the default. The tag is a 64-bit
  * digest of the log's committed CONTENT (SHA-256 prefix; 0 = absent/
  * empty), and each primitive runs under the stream's commit lock
  * ([[StreamLocks]]: JVM monitor + OS file lock), so reads never see a
  * torn append and the tag check inside [[appendIf]] is atomic with
  * the write. Read and append take the lock SEPARATELY — the protocol
  * correctness lives in the tag compare, exactly as it would against a
  * bucket where no lock exists at all.
  *
  * Content digest, not file SIZE (ADVICE r13): a size tag is ABA-prone
  * — a log cleared and regrown to exactly the old byte length between a
  * commit's read and its append would let a decision made against the
  * OLD log commit onto an unrelated one. A content tag closes ABA by
  * construction: the append lands only when the bytes on disk are THE
  * bytes the decision inspected — and if a regrown log is literally
  * byte-identical, the decision is still valid against it, so
  * committing is correct, not a hazard. (Same reasoning as an ETag,
  * which S3 also derives from content.)
  *
  * CRASH ATOMICITY (r13): `appendIf` commits via whole-file rewrite +
  * atomic rename, NOT `O_APPEND` — a writer killed at any instant
  * (kill -9, power loss) leaves either the old committed log or the
  * new one, never a partial append. This matters most for MULTI-LINE
  * appends: a torn sink-epoch commit (add lines landed, epoch marker
  * lost) would wedge the stream — the retry sees its own debris as an
  * overlap and refuses forever. The rewrite is the same cost model as
  * the conditional-PUT object store this seam targets (S3 "append" IS
  * a full-object If-Match PUT), and [[MetaCommits.checkpoint]] bounds
  * the log at O(live segments), so the rewrite stays KB-scale at any
  * corpus size. Logs written by a pre-atomic-append writer that died
  * mid-`O_APPEND` are repaired on first touch: a committed log always
  * ends in '\n', so a file that doesn't is cut back to its last
  * committed line (safe under the lock — no append can be in flight).
  */
/** The shared tag derivation: 64 bits of SHA-256, with 0 reserved for
  * the absent/empty log (a digest folding to 0 maps to 1). One helper
  * for every backend — PosixMetaStore folds the log CONTENT, the S3
  * adapter folds the server's ETag — so the reserved-0 handling can
  * never diverge between backends. */
private[streamlog] object StoreTags {
  def sha64(bytes: Array[Byte], len: Int): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(bytes, 0, len)
    val h = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    if (v == 0L) 1L else v
  }
}

final class PosixMetaStore(path: Path, lockDir: Path) extends MetaStore {

  /** Content tag; 0 = absent/empty. */
  private def tagOf(bytes: Array[Byte], len: Int): Long =
    if (len == 0) 0L else StoreTags.sha64(bytes, len)

  /** tmp-write + fsync + atomic rename + directory fsync: readers (and
    * any kill point) see the old bytes or the new bytes, never a
    * prefix. The force() calls are what make the rename's atomicity
    * hold through POWER LOSS, not just process death: without them the
    * filesystem may journal the rename before the tmp file's data
    * blocks flush, resurrecting an empty/truncated log — worse than
    * the torn tail this path exists to prevent. */
  private def writeAtomic(bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(bytes))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // fsync the directory so the rename itself is durable (Linux
    // allows opening a directory read-only for exactly this)
    try {
      val dch = java.nio.channels.FileChannel.open(
        path.getParent, java.nio.file.StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: java.io.IOException => () } // non-POSIX fs: best effort
  }

  /** Cut a torn trailing line (legacy O_APPEND crash debris) back to
    * the last '\n'. Caller holds the lock. */
  private def repairTornTail(): Unit =
    if (Files.exists(path)) {
      val bytes = Files.readAllBytes(path)
      if (bytes.nonEmpty && bytes.last != '\n') {
        val cut = bytes.lastIndexOf('\n'.toByte) + 1
        writeAtomic(java.util.Arrays.copyOfRange(bytes, 0, cut))
      }
    }

  override def readWithTag(): (Vector[String], Long) =
    // no-file fast path OUTSIDE the lock: taking it would re-create the
    // stream directory (the lock file lives inside it), resurrecting a
    // destroyed stream on a mere read. A log appearing between the check
    // and a subsequent appendIf is caught by the tag compare (0 = absent).
    if (!Files.exists(path)) (Vector.empty, 0L)
    else StreamLocks.withLock(lockDir) {
      if (!Files.exists(path)) (Vector.empty, 0L)
      else {
        // torn-tail tolerance WITHOUT writing (a pure reader may sit on
        // a read-only mount): return only whole committed lines and the
        // committed tag — the size up to the last '\n'. The write paths
        // repair the file physically before their own tag compare, so a
        // reader's tag from here still commits there.
        val bytes = Files.readAllBytes(path)
        val cut =
          if (bytes.isEmpty || bytes.last == '\n') bytes.length
          else bytes.lastIndexOf('\n'.toByte) + 1
        val lines = new String(bytes, 0, cut, UTF_8)
          .split("\n", -1).toVector.filter(_.nonEmpty)
        (lines, tagOf(bytes, cut))
      }
    }

  /** One locked read and a tag compare: the default's probe would
    * read and hash the whole log once more. */
  override def readIfMoved(tag: Long): Option[(Vector[String], Long)] =
    Some(readWithTag()).filter(_._2 != tag)

  override def appendIf(tag: Long, lines: Seq[String]): Boolean =
    StreamLocks.withLock(lockDir) {
      repairTornTail()
      val old = if (Files.exists(path)) Files.readAllBytes(path)
        else Array.emptyByteArray
      if (tagOf(old, old.length) != tag) false
      else {
        val next = old ++ lines.mkString("", "\n", "\n").getBytes(UTF_8)
        writeAtomic(next)
        lastCommitInfoVar = (tag, tagOf(next, next.length))
        true
      }
    }

  override def clear(): Unit =
    if (Files.exists(path))
      StreamLocks.withLock(lockDir)(Files.deleteIfExists(path)): Unit

  override def replaceIf(tag: Long, lines: Seq[String]): Boolean =
    StreamLocks.withLock(lockDir) {
      repairTornTail()
      val old = if (Files.exists(path)) Files.readAllBytes(path)
        else Array.emptyByteArray
      if (tagOf(old, old.length) != tag) false
      else {
        val next = lines.mkString("", "\n", "\n").getBytes(UTF_8)
        writeAtomic(next)
        lastCommitInfoVar = (tag, tagOf(next, next.length))
        true
      }
    }
}

/** In-memory implementation with If-Match semantics — the spec's stand-
  * in for a conditional-PUT object store (no filesystem, no locks; the
  * tag is a revision counter bumped per committed append, the ETag
  * analog). Specs subclass it to inject lost races between read and
  * append — the 412-retry path a real bucket produces under writer
  * contention.
  */
class InMemoryMetaStore extends MetaStore {
  private var rev = 0L
  private var lines = Vector.empty[String]

  override def readWithTag(): (Vector[String], Long) =
    synchronized((lines, rev))

  override def readIfMoved(tag: Long): Option[(Vector[String], Long)] =
    Some(readWithTag()).filter(_._2 != tag)

  override def appendIf(tag: Long, ls: Seq[String]): Boolean = synchronized {
    if (rev != tag) false
    else { lines = lines ++ ls; rev += 1; lastCommitInfoVar = (tag, rev); true }
  }

  override def clear(): Unit = synchronized { lines = Vector.empty; rev += 1 }

  override def replaceIf(tag: Long, ls: Seq[String]): Boolean = synchronized {
    if (rev != tag) false
    else { lines = ls.toVector; rev += 1; lastCommitInfoVar = (tag, rev); true }
  }
}

/** The fencing/epoch commit protocols, defined ONCE over the
  * [[MetaStore]] seam and shared by every metadata writer — StreamLog's
  * in-process appends, the DSv2 bulk-load commit, and the DSv2
  * streaming sink's exactly-once epoch commit. Each is a single
  * conditional append whose decision re-runs against the freshest log
  * on every CAS retry, so the check-on-apply guarantee ("a stale
  * writer's distributed work may complete, but its COMMIT cannot
  * land") holds on any backend the seam supports.
  */
object MetaCommits {

  /** Fenced append: refuse when the log records a writer epoch newer
    * than `myEpoch` (0 = fencing dormant, the legacy single-writer-by-
    * contract mode). */
  def fencedAppend(store: MetaStore, myEpoch: Long, lines: Seq[String]): Unit = {
    store.commit() { cur =>
      val disk = MetaLog.writerEpochOf(cur)
      if (disk > myEpoch) throw WriterFencedException(myEpoch, disk)
      Some(lines)
    }
    ()
  }

  /** Claim single-writership: bump the epoch past whatever the log
    * records AT COMMIT TIME (racing claimants each retry against the
    * other's token and land distinct, ordered epochs). Returns the
    * claimed epoch. */
  def claimWriter(store: MetaStore, atLeast: Long): Long = {
    var next = 0L
    store.commit() { cur =>
      next = math.max(MetaLog.writerEpochOf(cur), atLeast) + 1
      Some(Seq(MetaJson.writer(next)))
    }
    next
  }

  /** The streaming sink's exactly-once epoch commit: fenced, idempotent
    * on replay (an epoch at/below the query's high-water mark commits
    * nothing), and overlap-validated against the CURRENT index — all
    * inside one conditional append. Returns true iff this call
    * committed the epoch, false on an already-committed replay. */
  def commitSinkEpoch(store: MetaStore, myEpoch: Long, queryId: String,
                      epochId: Long, segs: Seq[SegmentMeta]): Boolean = {
    require(segs.nonEmpty, "empty epoch commits nothing")
    store.commit() { cur =>
      val disk = MetaLog.writerEpochOf(cur)
      if (disk > myEpoch) throw WriterFencedException(myEpoch, disk)
      if (MetaLog.maxSinkEpochOf(cur, queryId) >= epochId) None
      else {
        MetaLog.replayLines(cur).index.max.foreach { m =>
          require(m.lastOffset < segs.head.firstOffset,
            s"streaming epoch $epochId overlaps the log: " +
              s"last=${m.lastOffset} incoming=${segs.head.firstOffset}")
        }
        Some(segs.map(MetaJson.add) :+ MetaJson.sinkEpoch(queryId, epochId))
      }
    }
  }

  /** The minimal log that replays to the same state as `cur`: writer
    * epoch, producer version, per-query sink-epoch high-water marks,
    * live segment adds, live tombstones — every purge/superseded-
    * claim/compacted-add line dropped. Deterministic order. */
  def snapshotLines(cur: Seq[String]): Vector[String] = {
    val st = MetaLog.replayLines(cur)
    val b = Vector.newBuilder[String]
    if (st.writerEpoch > 0) b += MetaJson.writer(st.writerEpoch)
    if (st.producerVersion > 0) b += MetaJson.version(st.producerVersion)
    MetaLog.sinkEpochsOf(cur).toSeq.sortBy(_._1).foreach {
      case (q, e) => b += MetaJson.sinkEpoch(q, e)
    }
    st.index.segments.foreach(m => b += MetaJson.add(m))
    st.tombstones.toSeq.sortBy(_._1).foreach {
      case (n, ts) => b += MetaJson.tombstone(n, ts)
    }
    b.result()
  }

  /** Checkpoint the metadata log: rewrite it as its minimal snapshot
    * in ONE conditional replace — the garbage-collection half of the
    * append-only design. Every conditional commit reads the whole log,
    * so an ever-growing log makes commit cost grow with HISTORY (the
    * soak proves appends are O(segments added); this bounds the read
    * side too). Fenced like every commit; a racing append between the
    * read and the replace loses the tag compare and the checkpoint
    * re-reads — so nothing committed is ever dropped, and exactly-once
    * state (sink-epoch marks) survives the rewrite by construction.
    * Returns true iff a strictly-smaller snapshot replaced the log
    * (a log already minimal is left untouched). */
  def checkpoint(store: MetaStore, myEpoch: Long,
                 maxAttempts: Int = 64): Boolean = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val (cur, tag) = store.readWithTag()
      val disk = MetaLog.writerEpochOf(cur)
      if (disk > myEpoch) throw WriterFencedException(myEpoch, disk)
      val snap = snapshotLines(cur)
      if (snap.length >= cur.length) return false
      if (store.replaceIf(tag, snap)) return true
      attempt += 1
    }
    throw new IllegalStateException(
      s"metadata checkpoint lost $maxAttempts consecutive races")
  }

  /** The bulk-load commit: fenced + overlap-validated conditional
    * append of the loaded segments. Idempotent under AMBIGUOUS
    * conditional-PUT outcomes (the write landed, the response was
    * lost — a real bucket failure mode): the retry's re-decide finds
    * its own segments already live and commits nothing, instead of
    * refusing its own committed work as an overlap. */
  def commitBulk(store: MetaStore, myEpoch: Long,
                 segs: Seq[SegmentMeta]): Unit = {
    require(segs.nonEmpty, "empty bulk load commits nothing")
    // true once THIS call has passed overlap validation and issued a
    // conditional append — used only to make the rare wedge diagnosis
    // below specific, never to auto-recognize by range
    var attempted = false
    store.commit() { cur =>
      val disk = MetaLog.writerEpochOf(cur)
      if (disk > myEpoch) throw WriterFencedException(myEpoch, disk)
      val st = MetaLog.replayLines(cur)
      // ambiguous-replay recognition must see COMPACTED segments too: a
      // maintenance pass may have tombstoned the landed segments between
      // the ambiguous attempt and this retry — they are still this
      // commit's own work, not an overlap (names are UUID-unique, so
      // the name test is safe at any epoch and any attempt).
      val known = st.index.segments.map(_.name).toSet ++ st.tombstones.keySet
      if (segs.forall(m => known.contains(m.name))) None // ambiguous replay
      else {
        // NO range-based auto-recognition (r15, three review passes):
        // a name-unknown segment whose range is covered by a live one
        // is AMBIGUOUS between (a) our own ambiguous landing that a
        // concurrent maintenance pass compacted AND purged AND
        // checkpointed inside this call's retry loop — which needs
        // tombstoneMaxAgeMs ≈ 0 and is benign to re-run — and (b) a
        // same-epoch concurrent committer having landed overlapping
        // offsets, where silently reporting success would orphan this
        // load's data. Loud refusal wins; the message distinguishes
        // the post-append retry shape so case (a) is diagnosable
        // (ADVICE r14 accepted documenting this maxAgeMs-bounded
        // window as the resolution).
        st.index.max.foreach { m =>
          require(m.lastOffset < segs.head.firstOffset,
            s"bulk load overlaps existing log: " +
              s"last=${m.lastOffset} incoming=${segs.head.firstOffset}" +
              (if (attempted)
                " (this call already appended once: if maintenance with" +
                  " a near-zero tombstone age ran concurrently, the landed" +
                  " segments may have been compacted and purged — verify" +
                  " the records are present before re-running the load)"
               else ""))
        }
        attempted = true
        Some(segs.map(MetaJson.add))
      }
    }
    ()
  }
}
