package graft.streamlog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fleet-level catalog over a ROOT directory of streams — the analog of
  * the reference's path-per-stream namespace
  * (/root/reference/src/index.ts:7 — `idFromName(pathname)` keys one
  * Durable Object per stream path, so "the deployment" is the set of
  * names ever addressed). Here a stream is any direct subdirectory of
  * `root` with a metadata log or a segments directory, so an operator
  * can watch a whole deployment without knowing its names up front.
  */
object StreamLogs {

  /** Stream names under `root`, sorted. Bucket roots (mem:/s3:/hadoop:)
    * discover through the storage seams ([[StreamStores.listStreams]],
    * r15 — the fleet catalog was POSIX-only before); POSIX roots keep
    * the direct dirlist. */
  def list(root: String): Seq[String] = {
    if (StreamStores.isBucket(root)) return StreamStores.listStreams(root)
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return Seq.empty
    val st = Files.list(p)
    try st.iterator().asScala
      .filter(d => Files.isDirectory(d) &&
        (Files.exists(d.resolve("meta.jsonl")) ||
          Files.isDirectory(d.resolve("segments"))))
      .map(_.getFileName.toString)
      .toSeq.sorted
    finally st.close()
  }

  /** Open one stream of the fleet (replays its metadata log). */
  def open(spark: SparkSession, root: String, name: String): StreamLog =
    new StreamLog(spark, root, name)

  /** One summary row per stream under `root` (the per-stream
    * [[StreamLog.describe]] union) — fleet introspection as a relation:
    * total segments/records/bytes, producer versions, compaction debt.
    */
  def describeAll(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val names = list(root)
    if (names.isEmpty)
      Seq.empty[(String, Long, Long, Long, Long, String, Long, String, String)]
        .toDF("stream", "n_segments", "n_records", "n_bytes", "producer_version",
          "last_offset", "n_tombstones", "first_offset", "newest_offset")
    else names.map(n => open(spark, root, n).describe()).reduce(_ unionAll _)
  }

  /** Fleet-wide self-scheduled maintenance — ONE coordinator daemon for
    * every stream under `root`, the deployment-scale analog of the
    * reference's one-alarm-per-Durable-Object (stream_manager.ts:384-399
    * arms a separate alarm per stream, so a 1000-stream deployment is
    * 1000 alarms firing at independent instants). Here one thread sweeps
    * the fleet every `intervalMs`, STAGGERING the per-stream passes
    * evenly across the sweep against absolute deadlines (stream i fires
    * at i/fleetSize of the interval from sweep start — listing and
    * maintenance wall time are deducted from the pauses, and an
    * end-of-sweep pause absorbs the last stream's pass — so the cadence
    * does not drift with maintenance cost, and `intervalMs` is exact
    * until the fleet's total maintenance work exceeds it, at which
    * point sweeps run back-to-back and it degrades to a lower bound),
    * so compaction I/O and Spark merge jobs never burst at one instant
    * the way naive per-stream timers with a common phase would. Streams
    * created after the daemon starts are discovered on the next sweep
    * ([[list]] re-runs each sweep); a stream whose directory disappears
    * (destroyed) falls out of the cache. A failing pass reports to
    * `onError` with its stream name and the sweep continues — one sick
    * stream must not stall the other 999.
    *
    * Handles are CACHED and shared: [[FleetMaintenance.open]] returns
    * the same [[StreamLog]] instance the daemon maintains, so the
    * per-stream state lock serializes the owner's publishes against a
    * concurrent compaction apply — the same single-writer contract as
    * [[StreamLog.startMaintenance]], extended fleet-wide: run the fleet
    * daemon in the process that owns publish() for these streams, and
    * obtain publisher handles from [[FleetMaintenance.open]].
    */
  def startMaintenance(spark: SparkSession, root: String, intervalMs: Long,
      limits: Compaction.Limits = Compaction.Limits(),
      tombstoneMaxAgeMs: Long = 86400000L,
      orphanGraceMs: Long = 300000L,
      onReport: (String, StreamLog.MaintenanceReport) => Unit = (_, _) => (),
      onError: (String, Throwable) => Unit = (_, e) => e.printStackTrace())
      : FleetMaintenance = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    // fail fast: a hadoop non-file root cannot resolve the commit
    // store implicitly, so every sweep would list streams then throw
    // once per stream per sweep into onError (ADVICE r15)
    require(StreamStores.supportsImplicitMetaStore(root),
      s"fleet maintenance unsupported on '$root': hadoop roots with a " +
        "non-file scheme need an explicit conditional-PUT MetaStore " +
        "(e.g. S3MetaStore over the same bucket) — run per-stream " +
        "maintenance via StreamLog's explicit-store constructor instead")
    new FleetMaintenance(spark, root, intervalMs, limits,
      tombstoneMaxAgeMs, orphanGraceMs, onReport, onError)
  }

  /** Handle for a running [[startMaintenance]] fleet daemon: the shared
    * stream cache plus the stop switch. */
  final class FleetMaintenance private[streamlog] (
      spark: SparkSession, root: String, intervalMs: Long,
      limits: Compaction.Limits, tombstoneMaxAgeMs: Long, orphanGraceMs: Long,
      onReport: (String, StreamLog.MaintenanceReport) => Unit,
      onError: (String, Throwable) => Unit) extends AutoCloseable {

    private val streams =
      new java.util.concurrent.ConcurrentHashMap[String, StreamLog]()
    // streams whose maintenance hit a WriterFencedException, recorded
    // with the handle's claimed epoch AT FENCE TIME: a fenced stream is
    // skipped — its merges would keep completing distributed work and
    // then refusing at apply, one wasted Spark job per sweep — until
    // the handle re-claims (claimedWriterEpoch moves past the recorded
    // one) or is released
    private val fencedAt =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()
    // names whose directory a sweep has actually seen — eviction
    // candidates once that directory disappears
    private val seenOnDisk =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val stopMonitor = new Object

    /** The daemon's own handle for `name` — publishers MUST use this
      * (not a second instance, whose in-memory index would go stale
      * under the daemon's compactions). */
    def open(name: String): StreamLog =
      streams.computeIfAbsent(name, n => new StreamLog(spark, root, n))

    /** Is the stream's state still present? POSIX: its directory
      * (cheap stat, the pre-r15 check); bucket roots: the storage
      * seams — a bucket stream has no local directory, so a stat
      * would make every one look destroyed. Takes only the NAME (r15
      * review, second pass): probing liveness must not construct a
      * handle first, because a StreamLog constructor re-resolves its
      * stores and on a mem: root that `computeIfAbsent` would
      * resurrect the registry pair destroy just dropped. */
    private def streamLives(n: String): Boolean =
      if (StreamStores.isBucket(root)) StreamStores.streamExists(root, n)
      else Files.isDirectory(Paths.get(root, n))
    // residual mem-sim caveat (r15 third pass, accepted): a destroy
    // landing in the window between streamLives(n) and open(n) can
    // still recreate one EMPTY registry pair via the constructor's
    // computeIfAbsent. mem: roots are the single-JVM spec backend;
    // closing the window would need a registry-level create/destroy
    // handshake that the real bucket backends don't have or need.

    /** Number of cached stream handles (fleet introspection; the churn
      * spec bounds this against the live stream count). */
    def cachedHandles: Int = streams.size()

    /** Explicitly drop `name`'s cached handle. The sweep already evicts
      * handles whose directory it has SEEN disappear; this covers the
      * one case it cannot — an owner that creates, uses, and destroys a
      * stream FASTER than a sweep can observe it (such a name is never
      * listed, so the seen-on-disk eviction can't reach it). Call after
      * [[StreamLog.destroy]] when churning short-lived streams; a later
      * [[open]] of the same name builds a fresh handle. */
    def release(name: String): Unit = {
      streams.remove(name)
      seenOnDisk.remove(name)
      fencedAt.remove(name)
    }

    /** Streams this daemon has stopped maintaining because a newer
      * writer fenced them (cleared by claimWriter on the handle, or
      * [[release]]). */
    def fencedStreams: Set[String] = {
      import scala.jdk.CollectionConverters._
      fencedAt.keySet.asScala.toSet
    }

    private def pause(ms: Long): Unit =
      stopMonitor.synchronized {
        if (!stop.get()) stopMonitor.wait(math.max(1L, ms))
      }

    private val sweeper = new Thread(() => {
      while (!stop.get()) {
        // the sweep clock starts BEFORE the listing: listing time is
        // sweep work like everything else, deducted from the pauses
        val sweepStart = System.nanoTime()
        def elapsedMs = (System.nanoTime() - sweepStart) / 1000000L
        // a listing failure (root unreadable for a beat) must not kill
        // the fleet daemon — report it like a stream failure and retry
        // next interval. A FAILED listing also must not evict anything
        // (an endpoint blip is not a destroy), so success is tracked.
        val (names, listedOk) =
          try (list(root), true)
          catch { case e: Throwable => onError("<root>", e); (Seq.empty, false) }
        // evict handles for streams destroyed BETWEEN sweeps (no longer
        // listed) — a create-use-destroy churn of fresh names must not
        // grow the cache forever. Runs on every SUCCESSFUL listing,
        // including an empty one (r15 review, second pass: the last
        // stream's destroy used to leave its handle cached forever
        // because the empty-listing branch skipped eviction). Only
        // names a sweep has SEEN are candidates, so a handle opened
        // ahead of its first publish is never evicted from under its
        // caller.
        if (listedOk) {
          val listed = names.toSet
          streams.keySet.removeIf { n =>
            seenOnDisk.contains(n) && !listed.contains(n) &&
              { seenOnDisk.remove(n); fencedAt.remove(n); true }
          }
        }
        if (names.isEmpty) pause(intervalMs)
        else {
          // deadline-based stagger: stream i is scheduled at i/n of
          // the interval FROM SWEEP START (stream 0 immediately), and
          // each pause is deadline − now, so maintain()/listing wall
          // time is deducted rather than added; the end-of-sweep pause
          // below absorbs the LAST stream's maintain too, so the sweep
          // period is exactly intervalMs until the fleet's total
          // maintenance work exceeds it (then sweeps run back-to-back
          // and intervalMs degrades to a lower bound)
          names.zipWithIndex.foreach { case (n, i) =>
            val deadlineMs = (i.toLong * intervalMs) / names.size
            if (deadlineMs > elapsedMs) pause(deadlineMs - elapsedMs)
            if (!stop.get()) {
              try {
                // fence backoff: skip until the handle re-claims past
                // the epoch it held when it was fenced (checked on the
                // CACHED handle — fencing implies one was opened)
                val fEpoch = fencedAt.get(n)
                val cached = streams.get(n)
                if (fencedAt.containsKey(n) && cached != null &&
                    cached.claimedWriterEpoch <= fEpoch) ()
                else if (streamLives(n)) { // liveness BEFORE open(): a
                  // handle construction on a destroyed mem name would
                  // resurrect the registry pair (r15 review)
                  val log = open(n)
                  fencedAt.remove(n)
                  seenOnDisk.add(n)
                  onReport(n, log.maintain(limits, tombstoneMaxAgeMs, orphanGraceMs))
                } else { // destroyed since listing: drop ALL maps — a
                  // handle evicted here never reaches the post-listing
                  // sweep, so leaving seenOnDisk (or a fence record,
                  // r15 third pass) behind would grow them one entry
                  // per churned name forever
                  streams.remove(n)
                  seenOnDisk.remove(n)
                  fencedAt.remove(n)
                }
              } catch {
                case e: WriterFencedException =>
                  fencedAt.put(n, e.provided)
                  onError(n, e)
                case e: Throwable => onError(n, e)
              }
            }
          }
          // wait out the interval's remainder so the NEXT sweep starts
          // exactly intervalMs after this one did
          val rem = intervalMs - elapsedMs
          if (rem > 0) pause(rem)
        }
      }
    }, "graft-fleet-maintain")
    sweeper.setDaemon(true)
    sweeper.start()

    /** Claim single-writership of EVERY stream currently under the
      * root — the one-call driver takeover: a coordinator assuming a
      * fleet (the old driver died, or a deploy moves ownership) claims
      * each stream through ITS cached handles, so this daemon's
      * maintenance passes commit while the superseded coordinator's
      * handles fence ([[StreamLog.claimWriter]] semantics per stream;
      * the two-coordinator soak spec drives exactly this). Streams
      * created after the call are NOT claimed — claim at open, or call
      * again. Returns name → claimed epoch. */
    def claimWriters(): Map[String, Long] =
      list(root).map(n => n -> open(n).claimWriter()).toMap

    override def close(): Unit = {
      stop.set(true)
      stopMonitor.synchronized(stopMonitor.notifyAll())
      sweeper.join(10000)
    }
  }
}
