package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Version-fencing rejection (the reference's HTTP 409;
  * /root/reference/src/stream_manager.ts:240-267). */
final case class FencedException(provided: Long, current: Long)
    extends RuntimeException(
      s"Producer version too old: provided=$provided current=$current")

/** Commit-layer fencing rejection: this handle's writer epoch has been
  * superseded by a newer [[StreamLog.claimWriter]] in the metadata log,
  * so its metadata commit (publish / compaction apply / purge / bulk
  * load) is refused. The reference gets single-writer for free from the
  * Durable Object runtime; on shared storage without advisory locks
  * (S3/R2) this token in the log itself is the exclusion mechanism. */
final case class WriterFencedException(provided: Long, current: Long)
    extends RuntimeException(
      s"Writer epoch superseded: this handle holds epoch $provided but the " +
        s"metadata log records epoch $current — a newer writer has claimed " +
        "the stream; re-claim with claimWriter() only if that writer is known dead")

/** A durable, bottomless stream log over a directory of immutable NDJSON
  * segments — the reference's Durable-Object-per-stream engine re-expressed
  * for Spark (see SURVEY.md §2.1 for the file:line map into
  * /root/reference/src/stream_manager.ts).
  *
  * Layout under `root/name/`:
  *   - `segments/<firstOffset>-<uuid>.seg` — lines of
  *     `offset(32 chars) ++ json ++ '\n'`, strictly offset-ordered,
  *     non-overlapping across segments.
  *   - `meta.jsonl` — append-only metadata log (add / tombstone / purge /
  *     version / destroy entries), the analog of the reference's DO-KV.
  *
  * Scale design: the segment directory is the object-store prefix; the
  * metadata index prunes segments BEFORE Spark lists files, so a consume
  * at offset X scans only segments with lastOffset > X (the analog of
  * partition pruning). Appends are driver-side (a batch is small, in-memory
  * — same as the reference's pendingMessages buffer); a compaction merge
  * runs in Spark tasks, one per window, never a driver loop over records.
  *
  * Single-writer per stream (the reference serializes through one DO).
  */
final class StreamLog(val spark: SparkSession, val root: String, val name: String,
                      metaStore: MetaStore = null,
                      segmentStore: SegmentStore = null) {

  private val bucketRooted = StreamStores.isBucket(root)

  /** The stream's directory on a POSIX root (`segments/`,
    * `meta.jsonl`). A bucket root (`mem:`, `s3:`, `hadoop:`) keeps both
    * in its stores and has no local directory, so this throws there. */
  lazy val streamDir: Path = {
    require(!bucketRooted, s"a stream on the bucket root $root has no local directory")
    Paths.get(root, name)
  }
  lazy val segmentDir: Path = streamDir.resolve("segments")

  /** The metadata log's storage backend — conditional append
    * ([[MetaStore]]). POSIX by default; specs pass an [[InMemoryMetaStore]]
    * (or a contended subclass) to drive the fencing/epoch protocols over
    * simulated object-store If-Match semantics. */
  private val store: MetaStore =
    Option(metaStore).getOrElse(StreamStores.metaStore(root, name))
  /** The segment DATA plane — whole-object put/get/list/delete
    * ([[SegmentStore]]); POSIX under `segments/` by default, a bucket
    * sim for mem-rooted streams. No rename crosses this seam. */
  private val segStore: SegmentStore =
    Option(segmentStore).getOrElse(StreamStores.segmentStore(root, name))
  // explicit stores on a mem root are registered so DSv2 tasks (which
  // re-resolve by (root, stream) strings) reach the SAME instances
  if (StreamStores.isMem(root) && (metaStore != null || segmentStore != null))
    StreamStores.register(root, name, store, segStore)

  // -- in-memory state (rebuilt from the metadata log on construction).
  // Single writer; @volatile so concurrent pollers/readers see fresh state.
  @volatile private var index: SegmentIndex = SegmentIndex.empty
  @volatile private var tombstones: Map[String, Long] = Map.empty // name -> tombstonedMS
  @volatile private var producerVersionVar: Long = 0L
  @volatile private var epoch: Long = 0L
  @volatile private var lastOffsetVar: String = ""
  @volatile private var writerEpochVar: Long = 0L  // log's recorded epoch
  @volatile private var myWriterEpoch: Long = 0L   // this handle's claim (0 = unclaimed)
  @volatile private var loadedTag: Long = 0L       // meta-log tag the state was replayed at
  // a commit of ours landed past loadedTag: the log holds lines the
  // state lacks, so appendMeta's first attempt could only lose
  @volatile private var replayBehind: Boolean = false
  // bumped by every write of the state above; read and written under
  // stateLock only (the poll probe's staleness check)
  private var stateGen: Long = 0L
  // the last log this handle replayed: a replay of a log that extends
  // it folds only the new lines
  private val replayer = new MetaLog.Replayer

  /** Flush notification monitor: publish() pokes it after a segment lands,
    * so same-process pollers wake immediately instead of sleeping out
    * their poll interval — the analog of the reference's post-flush
    * consumer poke (stream_manager.ts:306-326,454-467). */
  private val flushMonitor = new Object

  /** Serializes read-modify-writes of the in-memory state (index /
    * tombstones / epoch): the reference's Durable Object serializes ALL
    * of a stream's operations on one event loop, and
    * [[startMaintenance]] re-creates the same hazard here — its daemon
    * thread compacts while the owner thread publishes. Mutations hold
    * this lock; compaction's merge job runs outside it (only the window
    * snapshot and the final apply lock), so a publish is never blocked
    * behind a Spark job. Reentrant (JVM monitor). */
  private val stateLock = new Object

  load()

  /** Re-replay the metadata log. REQUIRED on a live instance after an
    * external writer (e.g. the DataSource V2 bulk load) has committed —
    * the in-memory index/epoch are otherwise stale, and a publish() from
    * a stale epoch could assign offsets overlapping the new segments. */
  def refresh(): Unit = stateLock.synchronized(load())

  def producerVersion: Long = producerVersionVar
  def lastOffset: Option[String] = Option(lastOffsetVar).filter(_.nonEmpty)
  def segments: Seq[SegmentMeta] = index.segments
  def tombstoneNames: Set[String] = tombstones.keySet
  /** The log's recorded writer epoch as of the last load/claim (0 = no
    * writer has ever claimed — fencing dormant, every handle may write). */
  def writerEpoch: Long = writerEpochVar
  /** This handle's claimed epoch (0 = unclaimed). */
  def claimedWriterEpoch: Long = myWriterEpoch

  /** Claim single-writership of this stream: bump the writer epoch in
    * the metadata log past whatever is recorded on DISK (not the cached
    * state — two racing claimants serialize on the commit lock and get
    * distinct, ordered epochs). Every later metadata commit from a
    * handle holding an OLDER epoch — publish flush, compaction apply,
    * tombstone purge, crash rebuild, DSv2 bulk commit — re-reads the
    * log's epoch inside the lock and throws [[WriterFencedException]].
    * This is the reference's producer fencing (stream_manager.ts:240-267)
    * moved to the commit layer, where it survives storage that has no
    * advisory locks. Returns the claimed epoch (pass to DSv2 writes as
    * the `writerEpoch` option). */
  def claimWriter(): Long = stateLock.synchronized {
    val before = loadedTag
    val next = MetaCommits.claimWriter(store, myWriterEpoch)
    stateGen += 1
    myWriterEpoch = next
    writerEpochVar = next
    replayBehind = !adoptOwnCommit(before)
    next
  }

  /** Replay the metadata log — crash-safe cold start
    * (stream_manager.ts:138-179,503-511). */
  private def load(): Unit = applyReplay(store.readWithTag())

  /** Install the state an already-read (lines, tag) snapshot replays
    * to — load() and the poll probe share it so a probe that already
    * paid the read never reads the log a second time. */
  private def applyReplay(snap: (Vector[String], Long)): Unit = {
    val st = replayer(snap._1)
    stateGen += 1
    loadedTag = snap._2
    replayBehind = false
    index = st.index; tombstones = st.tombstones
    producerVersionVar = st.producerVersion
    lastOffsetVar = st.lastOffset
    epoch = st.epoch
    writerEpochVar = st.writerEpoch
  }

  /** Every metadata append is a CONDITIONAL APPEND through the
    * [[MetaStore]] seam: append iff the log is still at a tag, retry on
    * a lost race — so a maintenance pass concurrent with a cross-process
    * bulk load can neither interleave half-written meta lines nor
    * append between the load's replay-validate and its own append
    * (ADVICE r2). On POSIX the primitives additionally take the commit
    * lock; on an object store the tag compare (If-Match) is the whole
    * mechanism. Record publishing itself remains single-writer per
    * stream by contract (class scaladoc) — the conditional append makes
    * the METADATA log safe against the concurrent writers the design
    * does allow: bulk loaders and superseding claimants.
    *
    * FIRST ATTEMPT WITHOUT A READ: the handle's in-memory state is the
    * replay of the log at `loadedTag` plus its own commits since, so
    * the first attempt appends at `loadedTag` directly. A single-writer
    * handle re-reading the log it wrote one commit ago learns nothing:
    * on an object store this saves the GET, leaving a publish at
    * segment PUT + metadata PUT. A landed attempt proves the log was
    * exactly the one the state replays, so the fence decision below is
    * the one the re-read would have made. A lost or ambiguous attempt
    * (another writer committed, a spurious 409, a dropped response)
    * falls through to [[MetaCommits.fencedAppend]], which re-reads and
    * re-decides as every commit did before; an ambiguous attempt that
    * did land appends its lines twice, which replays to the same state
    * (MetaStore stated requirement #3). A commit that lands past
    * `loadedTag` leaves the state behind the log, so later commits skip
    * the first attempt until the next replay ([[refresh]], the poll
    * probe, maintenance): a handle sharing its stream with another
    * writer pays what every commit paid before, never more.
    *
    * FENCING: the first attempt runs only while the replayed writer
    * epoch is not newer than this handle's claim. Otherwise, and on
    * every re-read attempt, a log recording a newer [[claimWriter]]
    * makes the append throw [[WriterFencedException]] instead of
    * committing — the check-on-apply half of the fencing-token
    * protocol (a stale writer's distributed work may complete, but its
    * COMMIT cannot land). While no writer has ever claimed (epoch 0 on
    * disk and here), the check is vacuous and the legacy single-writer-
    * by-contract behavior is unchanged.
    */
  private def appendMeta(lines: String*): Unit = {
    stateGen += 1
    val before = loadedTag
    val landed = !replayBehind && writerEpochVar <= myWriterEpoch &&
      store.appendIf(before, lines)
    if (!landed) MetaCommits.fencedAppend(store, myWriterEpoch, lines)
    replayBehind = !adoptOwnCommit(before)
  }

  /** Fast-forward the replay tag past this handle's OWN commit (ADVICE
    * r14: the next poll probe otherwise sees tag != loadedTag and pays
    * a redundant full locked replay, and the next [[appendMeta]] loses
    * its first attempt) — but ONLY when the landed write's read-tag
    * equals `before`, the tag this handle's state replays. The
    * (landedOn, movedTo) pair is ONE atomic snapshot from the store
    * (r15 review: mem: roots share one store instance across handles,
    * so reading two separate fields could pair our read tag with
    * ANOTHER handle's commit tag and silently hide its lines). If
    * anything interleaved, the pair's first element differs from
    * `before`, loadedTag stays stale on purpose, and the next probe
    * refreshes. True iff the tag moved. */
  private def adoptOwnCommit(before: Long): Boolean = {
    val (landedOn, movedTo) = store.lastCommitInfo
    val adopt = landedOn == before && movedTo != 0L
    if (adopt) loadedTag = movedTo
    adopt
  }

  // ------------------------------------------------------------------
  // Publish
  // ------------------------------------------------------------------

  /** Append a batch of JSON records as one new segment, assigning each
    * record a monotonic offset at flush time (stream_manager.ts:401-468).
    *
    * @param version optional producer fencing token: < current → throws
    *   [[FencedException]]; > current → version bumps (persisted); records
    *   may be empty for a pure version bump.
    * @return the offsets assigned, in record order.
    */
  def publish(records: Seq[String], version: Option[Long] = None,
              nowMs: () => Long = () => System.currentTimeMillis()): Seq[String] = stateLock.synchronized {
    require(records.forall(r => !r.contains('\n') && !r.contains('\r')),
      "records must not contain newlines (NDJSON segment format)")
    version.foreach { v =>
      if (v < producerVersionVar) throw FencedException(v, producerVersionVar)
      if (v > producerVersionVar) {
        appendMeta(MetaJson.version(v))
        producerVersionVar = v
      }
    }
    if (records.isEmpty) return Seq.empty

    // monotonic epoch with clock-regression guard (ts:403-411); a
    // refused commit below leaves it advanced, which only skips offsets
    val now = nowMs()
    epoch = if (now <= epoch) epoch + 1 else now
    val offsets = records.indices.map(i => Offset.serialize(epoch, i.toLong))

    val segName = s"${offsets.head}-${UUID.randomUUID()}.seg"
    // 32-char offset + '\n' + UTF-8 payload bytes (String.length would
    // undercount non-ASCII and break the compaction MaxBytes bound)
    val bytes = records.map(r => 33L + r.getBytes(UTF_8).length).sum
    val content = offsets.zip(records).map { case (o, r) => o + r }.mkString("", "\n", "\n")
    val contentBytes = content.getBytes(UTF_8)
    segStore.put(segName, contentBytes) // atomic whole-object PUT

    val meta = SegmentMeta(segName, offsets.head, offsets.last, nowMs(),
      records.size.toLong, bytes,
      sha256 = SegmentIntegrity.sha256Hex(contentBytes))
    // the state takes the batch only once its commit landed: a fenced
    // or failed publish leaves this handle reading what a fresh one reads
    appendMeta(MetaJson.add(meta))
    index = index.add(meta)
    lastOffsetVar = offsets.last
    flushMonitor.synchronized(flushMonitor.notifyAll())
    offsets
  }

  // ------------------------------------------------------------------
  // Read
  // ------------------------------------------------------------------

  /** DataFrame of (offset STRING, data STRING) for all records with
    * offset strictly greater than `after` ("-" = beginning). Only segments
    * whose range can intersect are handed to the scan (metadata pruning).
    * Ordering/limit are left to the caller so Catalyst can pick
    * TakeOrderedAndProject for consume-with-limit. */
  def readAfter(after: String = Offset.Beginning): DataFrame = {
    val segs = index.segmentsAfter(after)
    import spark.implicits._
    if (segs.isEmpty) return Seq.empty[(String, String)].toDF("offset", "data")
    // the segments packed into a few tasks, each reading its run as one
    // SegmentTasks.chain, as the DSv2 reader does; the Hadoop conf
    // rides the closure only as a broadcast
    val (r, n, auth, conf) = (root, name, StreamStores.s3AuthFor(root),
      SegmentTasks.hadoopConf(spark, root))
    val df = tasks(SegmentTasks.pack(spark, SegmentTasks.plan(segStore, segs)))
      .flatMap(reads => SegmentTasks.chain(r, n, reads, auth, conf))
      .select(
        substring(col("value"), 1, Offset.Width).as("offset"),
        expr(s"substring(value, ${Offset.Width + 1})").as("data"))
    if (after == Offset.Beginning) df else df.filter(col("offset") > after)
  }

  /** `units` as a Dataset with one task per element and no exchange:
    * a packed run of segments for [[readAfter]], a window for
    * [[compactAll]]. */
  private def tasks[T](units: Seq[T])(implicit enc: Encoder[T]): Dataset[T] =
    spark.createDataset(spark.sparkContext.parallelize(units, units.size)(enc.clsTag))

  /** Driver-side consume: exclusive-start offset, in-order, limited —
    * the reference's getMessagesFromOffset with segment chaining
    * (ts:295-382). Returns (offset, json) pairs. */
  def consume(after: String = Offset.Beginning, limit: Int = 100): Seq[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var n = 0
    var cursor = after
    var seg = index.segmentAfter(cursor)
    while (n < limit && seg.isDefined) {
      val m = seg.get
      // lazy lines: a limit hit mid-segment stops fetching (Range GETs
      // on s3: roots never pull the bytes past the limit)
      val it = segStore.linesIterator(m.name)
        .filter(l => l.length >= Offset.Width && l.substring(0, Offset.Width) > cursor)
      while (n < limit && it.hasNext) {
        val l = it.next()
        out += ((l.substring(0, Offset.Width), l.substring(Offset.Width)))
        n += 1
      }
      cursor = m.lastOffset
      seg = if (n < limit) index.segmentAfter(cursor) else None
    }
    out.result()
  }

  /** Long-poll batch fallback: wait up to `timeoutMs` for records after
    * `after` (streaming tail lives in graft.streaming.StreamTail).
    *
    * Two wake paths, matching the reference's post-flush consumer poke
    * (stream_manager.ts:454-467) across the process boundary it can't
    * see: a same-process publish() pokes the flush monitor and the poll
    * returns immediately; an EXTERNAL writer (second JVM, DSv2 bulk
    * load, streaming sink) can't poke this JVM, so each `intervalMs`
    * wake probes the metadata log ([[MetaStore.readIfMoved]] at the tag
    * this handle's state replays) and installs the new log only when
    * the tag moved. A cross-process consumer therefore wakes within the
    * probe interval, not the full timeout. On S3 a probe is one GET
    * with `If-None-Match`: an idle stream costs one bodiless 304 per
    * interval, never a segment LIST or GET, and an arrival costs that
    * one GET answered 200 plus a replay of only the lines it added.
    *
    * IDLE BACKOFF (VERDICT r15 #6): each consecutive empty probe
    * doubles the wait from `intervalMs` up to `maxIntervalMs`, so a
    * long-idle consumer settles at ~1 probe per `maxIntervalMs`
    * instead of 20/s forever (a thousand idle consumers at the
    * defaults would otherwise sit at 20k probes/s fleet-wide). Latency
    * is bounded by the CAP, not the timeout: a same-process publish
    * still wakes the monitor instantly, and an external commit is seen
    * within one capped interval. Delivery resets the cadence by
    * construction — poll returns on data, and the next call starts at
    * `intervalMs` again. */
  def poll(after: String, limit: Int, timeoutMs: Long, intervalMs: Long = 50,
           maxIntervalMs: Long = 1000): Seq[(String, String)] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    probeExternal()
    var res = consume(after, limit)
    var interval = intervalMs
    val cap = math.max(intervalMs, maxIntervalMs)
    while (res.isEmpty && System.currentTimeMillis() < deadline) {
      val remaining = deadline - System.currentTimeMillis()
      // wait(0) means wait-forever: clamp to ≥ 1 ms so intervalMs = 0
      // still honors the deadline (degrades to a near-busy poll)
      val waitMs = math.max(1L, math.min(interval, remaining))
      if (remaining > 0)
        flushMonitor.synchronized(flushMonitor.wait(waitMs))
      probeExternal()
      res = consume(after, limit)
      interval = math.min(interval * 2, cap)
    }
    res
  }

  /** Install the metadata log iff its tag moved past what this handle
    * last loaded — the cross-process wake probe, one
    * [[MetaStore.readIfMoved]] round trip whether or not it moved.
    *
    * The read runs outside the state lock, so a same-handle publish
    * (producer and poller threads sharing one handle) may commit while
    * it is in flight, and its snapshot may then predate that commit:
    * installing it would regress lastOffset and the epoch. Content tags
    * do not order, so the tag cannot tell. `stateGen` can: every write
    * of the state bumps it under the lock, so an unchanged `stateGen`
    * means no commit or replay of this handle's came between the
    * capture and the install, and a snapshot read after the capture is
    * then at least as new as the state. A moved `stateGen` falls back
    * to a re-read under the lock. */
  private def probeExternal(): Unit = {
    val (gen, tag) = stateLock.synchronized((stateGen, loadedTag))
    store.readIfMoved(tag).foreach { snap =>
      stateLock.synchronized(if (stateGen == gen) applyReplay(snap) else load())
    }
  }

  /** Time-travel read: everything flushed at/after wall-clock T
    * (README.md:103-108). */
  def readSince(epochMs: Long): DataFrame = readAfter(Offset.timeTravel(epochMs))

  // ------------------------------------------------------------------
  // Compaction
  // ------------------------------------------------------------------

  /** Plan and execute one compaction: k-way merge of the planner's first
    * window into a single segment (ts:521-609, kway.ts:7-55) — exactly
    * [[compactAll]] capped at one window.
    * @return the merged segment's metadata, or None if nothing to compact. */
  def compactOnce(limits: Compaction.Limits = Compaction.Limits(),
                  nowMs: () => Long = () => System.currentTimeMillis()): Option[SegmentMeta] =
    compactAll(limits, nowMs, maxWindowsPerJob = 1).headOption

  /** Delete tombstoned segment files older than `maxAgeMs` (ts:590-636;
    * reference default 1 day). */
  def cleanTombstones(maxAgeMs: Long = 86400000L,
                      nowMs: () => Long = () => System.currentTimeMillis()): Seq[String] = stateLock.synchronized {
    val cutoff = nowMs() - maxAgeMs
    val expired = tombstones.filter(_._2 <= cutoff).keys.toSeq.sorted
    // ONE batch round on bucket stores (ceil(k/1000) requests instead
    // of k DELETEs, r17); the purge lines append only after the
    // deletes land, same as the per-name loop did
    segStore.deleteMany(expired)
    if (expired.nonEmpty) appendMeta(expired.map(MetaJson.purge): _*)
    tombstones --= expired
    expired
  }

  /** Delete storage objects referenced by neither the live index nor the
    * tombstone set (ts:638-676).
    *
    * Two guards keep this safe against in-flight bulk loads (whose writer
    * tasks ATOMIC_MOVE .seg files BEFORE the driver commit appends
    * meta.jsonl): the metadata log is re-replayed first, so segments an
    * external writer already committed are seen as referenced; and files
    * younger than `graceMs` are never collected, so segments moved into
    * place but not yet committed survive until their commit lands (or
    * until they are genuinely abandoned and age past the grace period).
    * The grace comparison uses the REAL wall clock (file mtimes are
    * wall-clock stamps, so an injected test clock would make every file
    * look forever-young and orphans would never be collected).
    */
  def purgeOrphans(graceMs: Long = 300000L): Seq[String] = stateLock.synchronized {
    load() // pick up commits from external writers (e.g. DSv2 bulk load)
    val cutoff = System.currentTimeMillis() - graceMs
    val referenced = index.segments.map(_.name).toSet ++ tombstones.keySet
    // the store's LIST (bucket ListObjects / POSIX dirlist) is the
    // discovery mechanism; the grace window tolerates eventual LIST
    // visibility — an object a lagged LIST can't show yet is by
    // definition young, and a stale listing of a deleted object just
    // re-issues an idempotent DELETE
    val orphans = segStore.list()
      .filter(o => !referenced.contains(o.name) && o.lastModifiedMs <= cutoff)
      .map(_.name)
      .sorted
    segStore.deleteMany(orphans) // batch round on bucket stores (r17)
    // crash-leaked unique tmp staging is invisible to list() by design
    // — the store's own debris sweep collects it past the same grace
    val debris = segStore.sweepDebris(graceMs, System.currentTimeMillis())
    orphans ++ debris
  }

  /** Compact EVERY window of one planning pass in one Spark job of one
    * stage, one task per window: a window is a contiguous run of the
    * sorted, non-overlapping live segments, so its task reads its inputs
    * as one [[SegmentTasks.chain]] and writes their lines in order
    * through [[SegmentWriter]] (ts:521-609, kway.ts:7-55: the ordered
    * concat of contiguous sorted segments), reading and putting through
    * this handle's segment store when it runs in this JVM
    * ([[SegmentTasks.lend]]). No shuffle, no sort, no staging.
    *
    * A job takes at most `maxWindowsPerJob` windows, oldest first, which
    * bounds one job's tasks and one metadata commit's lines; the
    * [[maintain]] loop re-plans until the planner is empty, so a capped
    * pass just becomes several bounded jobs.
    *
    * Before committing, each window's merged segment must carry exactly
    * its inputs' offset range and record count; if one disagrees, the
    * job commits nothing and throws, and the segments its tasks put are
    * orphans for [[purgeOrphans]].
    * @return merged segment metadata, oldest-first; empty when the
    *         planner finds nothing.
    */
  def compactAll(limits: Compaction.Limits = Compaction.Limits(),
                 nowMs: () => Long = () => System.currentTimeMillis(),
                 maxWindowsPerJob: Int = 64): Seq[SegmentMeta] = {
    require(maxWindowsPerJob >= 1, s"maxWindowsPerJob must be >= 1, got $maxWindowsPerJob")
    val windows = stateLock.synchronized(
      Compaction.windows(index.segments, limits).take(maxWindowsPerJob))
    if (windows.isEmpty) return Seq.empty

    import spark.implicits._
    val (r, n, auth, conf) = (root, name, StreamStores.s3AuthFor(root),
      SegmentTasks.hadoopConf(spark, root))
    val commits = SegmentTasks.lend(segStore)(key =>
      tasks(windows.map(SegmentTasks.plan(segStore, _)))
        .map(w => SegmentTasks.merge(r, n, w, auth, conf, key))
        .collect())
    val merged = windows.zip(commits).map { case (w, c) =>
      val want = (w.head.firstOffset, w.last.lastOffset, w.map(_.records).sum)
      if ((c.firstOffset, c.lastOffset, c.records) != want)
        throw new IllegalStateException(s"merge of ${w.map(_.name).mkString(", ")} " +
          s"wrote ${c.name} holding ${(c.firstOffset, c.lastOffset, c.records)}, " +
          s"but the window's metadata says $want (first, last, records); nothing committed")
      SegmentMeta(c.name, c.firstOffset, c.lastOffset, nowMs(), c.records, c.bytes, c.sha256)
    }

    stateLock.synchronized {
      val ts = nowMs()
      val all = windows.flatten
      appendMeta(all.map(m => MetaJson.tombstone(m.name, ts)) ++ merged.map(MetaJson.add): _*)
      all.foreach(m => index = index.remove(m))
      merged.foreach(m => index = index.add(m))
      tombstones ++= all.map(_.name -> ts)
    }
    merged
  }

  /** One full maintenance pass — the library-side analog of the
    * reference's Durable-Object alarm loop (stream_manager.ts `alarm` →
    * compactLogSegments, ts:521-609): compact until the planner returns
    * an empty window (all windows of a pass merge in ONE distributed
    * job via [[compactAll]]), then age out tombstones and collect
    * orphans. A long-lived stream stays bounded by calling this
    * periodically.
    */
  def maintain(limits: Compaction.Limits = Compaction.Limits(),
               tombstoneMaxAgeMs: Long = 86400000L,
               orphanGraceMs: Long = 300000L,
               nowMs: () => Long = () => System.currentTimeMillis()): StreamLog.MaintenanceReport = {
    val merged = Iterator.continually(compactAll(limits, nowMs))
      .takeWhile(_.nonEmpty).flatten.toVector
    val cleaned = cleanTombstones(tombstoneMaxAgeMs, nowMs)
    val orphans = purgeOrphans(orphanGraceMs)
    val ckpt = checkpointMetaLog()
    StreamLog.MaintenanceReport(merged, cleaned, orphans, ckpt)
  }

  /** Rewrite the metadata log as its minimal snapshot
    * ([[MetaCommits.checkpoint]]): compaction/cleanup append add +
    * tombstone + purge lines forever, and since every conditional
    * commit READS the whole log, an unbounded log makes commit cost
    * grow with history — this bounds it at O(live segments). Runs at
    * the end of every [[maintain]] pass (a no-op when the log is
    * already minimal); fenced and CAS-guarded like every commit, so a
    * sink epoch landing mid-checkpoint just wins the race and the
    * checkpoint retries over it. Returns true iff the log shrank. */
  def checkpointMetaLog(): Boolean = stateLock.synchronized {
    val did = MetaCommits.checkpoint(store, myWriterEpoch)
    if (did) load()
    did
  }

  /** Self-scheduled maintenance — the analog of the reference's
    * Durable-Object alarm (stream_manager.ts:384-399, `scheduleAlarm` →
    * `alarm` → compact): a daemon thread runs [[maintain]] every
    * `intervalMs` until the returned handle is closed. A failing pass is
    * reported to `onError` and the loop CONTINUES (an alarm that dies on
    * one bad pass would silently stop compaction forever); `onReport`
    * sees every completed pass, for operators metering compaction debt.
    * The thread is a daemon, so a host that forgets to close() still
    * shuts down cleanly — but close() is the contract (try-with-resources
    * shape). Maintenance is part of the stream's single-writer contract:
    * run it in the process that owns publish() for this stream.
    */
  def startMaintenance(intervalMs: Long,
                       limits: Compaction.Limits = Compaction.Limits(),
                       tombstoneMaxAgeMs: Long = 86400000L,
                       orphanGraceMs: Long = 300000L,
                       onReport: StreamLog.MaintenanceReport => Unit = _ => (),
                       onError: Throwable => Unit = _.printStackTrace()): AutoCloseable = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopMonitor = new Object
    val t = new Thread(() => {
      while (!stop.get()) {
        stopMonitor.synchronized { if (!stop.get()) stopMonitor.wait(intervalMs) }
        if (!stop.get()) {
          try onReport(maintain(limits, tombstoneMaxAgeMs, orphanGraceMs))
          catch { case e: Throwable => onError(e) }
        }
      }
    }, s"graft-maintain-$name")
    t.setDaemon(true)
    t.start()
    new AutoCloseable {
      override def close(): Unit = {
        stop.set(true)
        stopMonitor.synchronized(stopMonitor.notifyAll())
        t.join(10000)
      }
    }
  }

  /** One-row stream summary DataFrame — the reference's meta endpoint
    * (stream_manager.ts handleMetaRequest) as a queryable relation:
    * segment/record/byte totals, producer version, last offset, and
    * tombstone count, for operators monitoring lag and compaction debt.
    */
  def describe(): DataFrame = {
    import spark.implicits._
    val segs = index.segments
    Seq((name, segs.size.toLong, segs.map(_.records).sum, segs.map(_.bytes).sum,
      producerVersionVar, lastOffsetVar, tombstones.size.toLong,
      segs.headOption.map(_.firstOffset).getOrElse(""),
      segs.lastOption.map(_.lastOffset).getOrElse("")))
      .toDF("stream", "n_segments", "n_records", "n_bytes", "producer_version",
        "last_offset", "n_tombstones", "first_offset", "newest_offset")
  }

  /** Per-segment detail DataFrame: every live segment plus tombstoned
    * names awaiting cleanup (tombstoned_ms is NULL for live segments). */
  def describeSegments(): DataFrame = {
    import spark.implicits._
    val live = index.segments.map(m =>
      (m.name, m.firstOffset, m.lastOffset, m.createdMS, m.records, m.bytes,
        Option.empty[Long]))
    val dead = tombstones.toSeq.sorted.map { case (n, ts) =>
      (n, "", "", 0L, 0L, 0L, Some(ts))
    }
    (live ++ dead).toDF("segment", "first_offset", "last_offset",
      "created_ms", "records", "bytes", "tombstoned_ms")
  }

  /** Delete the stream's data + metadata; the name is immediately reusable
    * with fresh state (ts:722-758). */
  def destroy(): Unit = stateLock.synchronized {
    segStore.deleteAll()
    if (!bucketRooted && Files.exists(streamDir)) deleteRecursively(streamDir)
    store.clear() // bucket roots hold the log in the store
    segStore.dropContainer() // hierarchical schemes: drop the empty dirs
    load()
  }

  /** Crash recovery without the metadata log: rebuild the index by listing
    * segment files and reading their first/last records. Validates against
    * or replaces a lost/corrupt meta.jsonl.
    *
    * Compacted-away originals may still exist on disk beside their merged
    * replacement (tombstone state is lost with the log); overlapping
    * candidates are resolved by a widest-first sweep — the merged segment
    * covers its originals' ranges, so originals are skipped and become
    * orphans for the next purgeOrphans().
    *
    * LIST-consistency caveat (the [[SegmentStore]] contract lets LIST
    * lag): a listed-but-already-deleted GHOST is tolerated — its GET
    * throws and the entry is skipped (r16 data-plane fuzz finding: a
    * ghost from a just-purged tombstone crashed the rebuild). A
    * just-put segment a lagged LIST cannot show yet is NOT recoverable
    * here by construction — run rebuild against a settled listing (S3
    * LIST lag is seconds at worst; a crash-recovery pass minutes later
    * is settled by definition).
    */
  def rebuildFromSegments(nowMs: () => Long = () => System.currentTimeMillis()): Unit = stateLock.synchronized {
    val listed = segStore.list()
      .filter(_.name.endsWith(".seg"))
      .flatMap { o =>
        try {
          val lines = segStore.getLines(o.name)
          // a zero-line object (truncated/empty debris) carries no
          // records — skip it like a ghost instead of crashing the
          // recovery on lines.head (r16 review, third pass)
          if (lines.isEmpty) None
          else Some(SegmentMeta(o.name,
            lines.head.substring(0, Offset.Width),
            lines.last.substring(0, Offset.Width),
            nowMs(), lines.size.toLong,
            lines.map(_.getBytes(UTF_8).length + 1L).sum,
            // the on-store bytes ARE the recovery's source of truth —
            // record their digest so verification re-arms for all
            // future reads of the adopted segment
            sha256 = SegmentIntegrity.sha256HexOfLines(lines)))
        } catch {
          // stale-LIST ghost: the object was deleted but the lagged
          // listing still names it — skip, exactly as purgeOrphans
          // tolerates re-deleting one
          case _: java.nio.file.NoSuchFileException => None
        }
      }
    // widest-first sweep: sort (firstOffset asc, lastOffset desc) and keep
    // a segment only if it starts after the last kept one ends — a merged
    // segment sorts before (and covers) its originals, which become orphans
    val metas = listed
      .sortWith((a, b) =>
        if (a.firstOffset != b.firstOffset) a.firstOffset < b.firstOffset
        else a.lastOffset > b.lastOffset)
      .foldLeft(List.empty[SegmentMeta]) { (kept, m) =>
        kept match {
          case h :: _ if m.firstOffset <= h.lastOffset => kept // covered, skip
          case _ => m :: kept
        }
      }.reverse
    val keepVersion = producerVersionVar
    stateGen += 1
    index = SegmentIndex.of(metas)
    tombstones = Map.empty
    lastOffsetVar = index.max.map(_.lastOffset).getOrElse("")
    epoch = index.max.map(m => Offset.parse(m.lastOffset)._1).getOrElse(0L)
    store.clear()
    if (keepVersion > 0) appendMeta(MetaJson.version(keepVersion))
    producerVersionVar = keepVersion
    if (metas.nonEmpty) appendMeta(metas.map(MetaJson.add): _*)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Files.list with the directory handle closed (a bare stream leaks an
    * open fd until GC — fatal for a long-lived driver doing periodic
    * compaction/cleanup under ulimit). */
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }
}

object StreamLog {
  /** What one [[StreamLog.maintain]] pass did. */
  final case class MaintenanceReport(
      compacted: Seq[SegmentMeta],
      tombstonesPurged: Seq[String],
      orphansPurged: Seq[String],
      metaCheckpointed: Boolean = false)
}
