package graft.streamlog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** One listed segment object: name + last-modified stamp (the shape an
  * object-store LIST returns — S3/R2 `ListObjectsV2` carries
  * LastModified per key; POSIX carries it as the file mtime). The
  * stamp feeds [[StreamLog.purgeOrphans]]'s grace window. */
final case class ObjectInfo(name: String, lastModifiedMs: Long)

/** The storage seam under segment DATA — the twin of [[MetaStore]] for
  * the bytes themselves. The reference's data plane IS an object store
  * (R2 `get` /root/reference/src/stream_manager.ts:345,548, `put`
  * :479,544, `delete` :627, paginated `list` :645-676), so the trait
  * exposes exactly the primitives a bucket ships and NOTHING more:
  *
  *   - `put(name, bytes)` — whole-object, atomic: a reader sees the
  *     complete object or no object, never a prefix. No append, no
  *     rename — an implementation may USE rename internally for
  *     atomicity (POSIX), but the protocol above never asks for one.
  *   - `get(name)` — whole object back.
  *   - `list()` — every object under the stream's segment prefix.
  *   - `delete(name)` — idempotent.
  *
  * Segments are immutable and bounded by the compaction planner's
  * MaxBytes, so whole-object put/get is the natural unit at any corpus
  * size — a 100 TB stream is many bounded objects, never one large one.
  *
  * Everything above this trait (offset assignment, fenced metadata
  * commits, compaction, orphan collection) is storage-agnostic:
  * atomicity of the STREAM lives in the metadata log's conditional
  * append — a put that lands without its metadata commit is an orphan
  * [[StreamLog.purgeOrphans]] collects, which is why the seam needs no
  * cross-object transaction.
  *
  * STATED REQUIREMENTS for a real bucket adapter (weaker than
  * [[MetaStore]]'s — the data plane tolerates more because the
  * metadata commit is the correctness point):
  *   1. Read-after-write GET for COMMITTED names: a segment named in a
  *      committed metadata line must be GETtable (S3/R2 provide
  *      read-after-write for new objects; names are never reused
  *      before a destroy, so no stale-overwrite reads exist).
  *   2. LIST may lag and may return deleted ghosts: only
  *      [[StreamLog.purgeOrphans]] consumes LIST, and it tolerates
  *      both — young objects are grace-protected by LastModified,
  *      ghosts get idempotent re-deletes
  *      ([[EventualListSegmentStore]] is the conformance sim).
  *   3. An ambiguous put (upload landed, response lost) needs NO
  *      resolution: retrying produces either the same bytes under the
  *      same name (publish/compaction derive names deterministically —
  *      an overwrite with identical content) or an uncommitted twin
  *      the orphan sweep collects. Data-plane writes are never the
  *      commit point.
  */
object SegmentStore {
  /** Conservative age floor for sweeping NON-put-staging hidden .tmp
    * files (crash-leaked writer spools, legacy staging names): a live
    * spool's mtime advances as its task flushes, so a day of silence
    * means no living owner. Put staging (`.put.tmp`) lives
    * milliseconds and sweeps at the caller's grace window instead. */
  val SpoolSweepFloorMs: Long = 24L * 3600 * 1000

  /** Age floor for PUT-staging (`.put.tmp`) debris: normally it lives
    * milliseconds, but a multi-GiB staging copy can take minutes with
    * an unmoving mtime — an hour of headroom keeps a concurrent sweep
    * from failing an in-flight commit while still collecting genuine
    * crash debris promptly. */
  val PutStagingSweepFloorMs: Long = 3600L * 1000
}

trait SegmentStore {

  /** Store the complete object atomically (visible-whole-or-absent). */
  def put(name: String, bytes: Array[Byte]): Unit

  /** The complete object's bytes; throws if absent. */
  def get(name: String): Array[Byte]

  /** Every object under the prefix (no pagination at the trait level —
    * implementations over paginated LISTs drain the cursor). */
  def list(): Seq[ObjectInfo]

  /** Remove the object; absent = no-op (idempotent, like bucket DELETE). */
  def delete(name: String): Unit

  /** Remove MANY objects — the maintenance bulk path (tombstone clean,
    * orphan purge, destroy, r17). Default: one [[delete]] per name;
    * object-store adapters override with the documented batch API
    * ([[S3SegmentStore]]: multi-object delete, 1000 keys/request) so a
    * sweep that collects k objects pays ceil(k/1000) round-trips, not
    * k — the DELETE-side wire economy beside the r14 GET economy.
    * Idempotent like [[delete]] (absent names are no-ops). */
  def deleteMany(names: Seq[String]): Unit = names.foreach(delete)

  /** Remove everything under the prefix (stream destroy). */
  def deleteAll(): Unit = deleteMany(list().map(_.name))

  /** Remove stale WRITE DEBRIS — in-flight tmp staging older than the
    * grace window that [[list]] deliberately hides (so the orphan
    * sweep cannot reach it). Default no-op: flat object stores have no
    * invisible staging (an in-flight PUT is not an object). POSIX and
    * Hadoop rename-commit stores override to collect crash-leaked
    * unique dot-tmp files. Returns the names removed. */
  def sweepDebris(olderThanMs: Long, nowMs: Long): Seq[String] = Seq.empty

  /** Drop the (now-empty) storage container a destroy leaves behind —
    * a no-op on flat object stores (a prefix with no objects IS
    * absence) and on POSIX (destroy removes the stream directory
    * itself); hierarchical Hadoop filesystems override to remove the
    * empty `segments/` and stream directories, which would otherwise
    * make a destroyed stream listable forever (ADVICE r15). */
  def dropContainer(): Unit = ()

  /** The object's NDJSON lines (segments are line-oriented). */
  def getLines(name: String): Vector[String] =
    new String(get(name), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).toVector.filter(_.nonEmpty)

  /** The object's NDJSON lines as a LAZY iterator. Default = the
    * whole-object [[getLines]] (safe everywhere — segments are bounded
    * by compaction MaxBytes); adapters that can read byte ranges
    * override to STREAM the object in bounded chunks
    * ([[S3SegmentStore]] via HTTP Range GETs, r16), so a reading task
    * never materializes a whole segment and an early-exiting consumer
    * (limit pushdown) never fetches the bytes it won't read. */
  def linesIterator(name: String): Iterator[String] = getLines(name).iterator

  /** A task-local spool file to stage one segment's bytes before
    * [[putFromFile]] — object-store uploads buffer locally anyway;
    * POSIX overrides to a same-filesystem hidden file so the final put
    * is a zero-copy atomic rename. */
  def newSpool(hint: String): Path =
    Files.createTempFile(s"graft-spool-$hint", ".tmp")

  /** Commit a spooled local file as the object `name`, consuming the
    * local file. Default = read + [[put]] + delete (what an upload is);
    * POSIX overrides with an atomic same-filesystem rename. */
  def putFromFile(name: String, local: Path): Unit = {
    put(name, Files.readAllBytes(local))
    Files.deleteIfExists(local)
    ()
  }

  /** Paths a Spark task can read these objects from directly (POSIX
    * file paths; a real bucket adapter returns `s3a://…` URIs), or None
    * when the backend is not Hadoop-addressable (the in-memory bucket
    * sim) — the one task-side reader, [[SegmentTasks.lines]], then reads
    * each object through the store its task re-resolves. */
  def scanPaths(names: Seq[String]): Option[Seq[String]]
}

/** POSIX filesystem implementation — the default, byte-compatible with
  * the pre-seam layout (`<stream>/segments/<name>`). Atomic visibility
  * comes from hidden-tmp-write + ATOMIC_MOVE, an internal detail the
  * seam does not expose. Hidden (dot-prefixed) spool/tmp files are
  * excluded from [[list]], matching a bucket where an in-flight
  * multipart upload is not listable. */
final class PosixSegmentStore(dir: Path) extends SegmentStore {

  override def put(name: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    // per-attempt unique tmp (ADVICE r15, same hazard as the Hadoop
    // adapter): concurrent same-name puts sharing one tmp path could
    // move it out from under each other mid-commit. The `.put.tmp`
    // suffix marks PUT STAGING — the debris sweep matches only it, so
    // live writer SPOOLS (`.hint.tmp` from newSpool, which may sit
    // legitimately for minutes under a stalled upstream) are never
    // collected (r16 review)
    val tmp = dir.resolve(s".$name.${java.util.UUID.randomUUID()}.put.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  override def get(name: String): Array[Byte] =
    Files.readAllBytes(dir.resolve(name))

  override def list(): Seq[ObjectInfo] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala
        .filter(p => !p.getFileName.toString.startsWith("."))
        .map(p => ObjectInfo(p.getFileName.toString,
          Files.getLastModifiedTime(p).toMillis))
        .toSeq
      finally st.close()
    }

  override def delete(name: String): Unit =
    Files.deleteIfExists(dir.resolve(name)): Unit

  override def newSpool(hint: String): Path = {
    Files.createDirectories(dir)
    dir.resolve(s".$hint.tmp")
  }

  override def putFromFile(name: String, local: Path): Unit =
    // REPLACE_EXISTING like put(): the same-name re-put overwrite
    // contract covers the commit path too — an ambiguous upload's
    // retry must land, not throw FileAlreadyExists (r16 review,
    // third pass)
    try Files.move(local, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        super.putFromFile(name, local) // cross-filesystem spool
    }

  override def sweepDebris(olderThanMs: Long, nowMs: Long): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          // put-staging debris at the caller's grace; other hidden
          // .tmp (crash-leaked writer spools) only past the 24 h
          // floor — a LIVE spool may legitimately outlive any grace
          // window mid-task, but a day-stale one has no living owner
          n.startsWith(".") && n.endsWith(".tmp") && {
            val age = if (n.endsWith(".put.tmp"))
                math.max(olderThanMs, SegmentStore.PutStagingSweepFloorMs)
              else math.max(olderThanMs, SegmentStore.SpoolSweepFloorMs)
            Files.getLastModifiedTime(p).toMillis <= nowMs - age
          }
        }
        .map { p => Files.deleteIfExists(p); p.getFileName.toString }
        .toSeq.sorted
      finally st.close()
    }

  override def scanPaths(names: Seq[String]): Option[Seq[String]] =
    Some(names.map(n => dir.resolve(n).toString))
}

/** In-memory bucket simulator — the spec stand-in for R2/S3 segment
  * storage, mirroring [[InMemoryMetaStore]] on the metadata side: a
  * map of name → (bytes, putMs), whole-object put/get, idempotent
  * delete, no filesystem, no rename anywhere. Not Hadoop-addressable,
  * so [[scanPaths]] is None and readers distribute GETs by name. */
class InMemorySegmentStore(nowMs: () => Long = () => System.currentTimeMillis())
    extends SegmentStore {
  protected val objects =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Long)]()

  override def put(name: String, bytes: Array[Byte]): Unit =
    objects.put(name, (bytes.clone(), nowMs())): Unit

  override def get(name: String): Array[Byte] = {
    val v = objects.get(name)
    if (v == null) throw new java.nio.file.NoSuchFileException(s"mem:$name")
    v._1.clone()
  }

  override def list(): Seq[ObjectInfo] =
    objects.asScala.toSeq.map { case (n, (_, ts)) => ObjectInfo(n, ts) }
      .sortBy(_.name)

  override def delete(name: String): Unit = objects.remove(name): Unit

  override def scanPaths(names: Seq[String]): Option[Seq[String]] = None
}

/** Eventually-consistent LIST sim: puts and deletes become visible to
  * [[list]] only after `lagMs` — a fresh put is invisible (the classic
  * bucket LIST lag) and a fresh delete still shows (stale listing).
  * GET stays read-after-write consistent, which is what S3 (since 2020)
  * and R2 guarantee; the lagged LIST is the conservative stress the
  * maintenance protocol must survive: purgeOrphans must not need to
  * see a just-put segment (it can't), and must tolerate re-deleting a
  * ghost (bucket DELETE is idempotent). */
class EventualListSegmentStore(lagMs: Long,
                               nowMs: () => Long = () => System.currentTimeMillis())
    extends InMemorySegmentStore(nowMs) {
  // name -> deleteMs ghosts that still show in stale listings
  private val ghosts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  override def delete(name: String): Unit = {
    if (objects.containsKey(name)) ghosts.put(name, nowMs())
    super.delete(name)
  }

  override def list(): Seq[ObjectInfo] = {
    val now = nowMs()
    ghosts.asScala.foreach { case (n, ts) => if (now - ts >= lagMs) ghosts.remove(n) }
    val visible = objects.asScala.toSeq.collect {
      case (n, (_, ts)) if now - ts >= lagMs => ObjectInfo(n, ts)
    }
    val stale = ghosts.asScala.toSeq.map { case (n, ts) => ObjectInfo(n, ts) }
    (visible ++ stale).sortBy(_.name)
  }
}

/** Resolves a stream's [[MetaStore]] + [[SegmentStore]] from its
  * (root, stream) address — the one mapping both StreamLog handles and
  * the DataSource V2 connector's driver/executor sides share, so a
  * partition can carry just `(root, stream, segment)` strings and the
  * reading task re-resolves the store locally (exactly how an s3a URI
  * resolves to a client in each task).
  *
  *   - Any filesystem root → POSIX stores under `<root>/<stream>/`
  *     (the default; byte-identical to the pre-seam layout).
  *   - A root starting with `"mem:"` → a process-wide registry of
  *     in-memory bucket sims, one (meta, segments) pair per
  *     (root, stream). Single-JVM by nature — the spec/local[N] path;
  *     a real bucket adapter would register here the same way with
  *     Hadoop-addressable [[SegmentStore.scanPaths]].
  */
object StreamStores {
  private final case class Mem(meta: MetaStore, segs: SegmentStore)
  private val mem = new java.util.concurrent.ConcurrentHashMap[String, Mem]()

  def isMem(root: String): Boolean = root.startsWith("mem:")

  /** An S3-compatible bucket root: `s3:<endpoint>/<bucket>` (e.g.
    * `s3:http://127.0.0.1:9000/graft-streams`). Resolves to the
    * [[S3MetaStore]]/[[S3SegmentStore]] HTTP adapters; the root string
    * is self-describing, so executors re-resolve a client from the
    * same `(root, stream)` strings a partition already carries. */
  def isS3(root: String): Boolean = root.startsWith("s3:")

  /** A Hadoop-FileSystem root: `hadoop:<fsUri>` (e.g.
    * `hadoop:file:///data/streams`, `hadoop:s3a://bucket/streams`).
    * The segment DATA plane resolves to [[HadoopSegmentStore]], whose
    * [[SegmentStore.scanPaths]] returns real URIs so scans
    * range-stream through the FileSystem layer. The metadata COMMIT
    * plane needs compare-and-swap, which the generic FileSystem API
    * lacks: a `file:` URI pairs with [[PosixMetaStore]] automatically;
    * any other scheme either brings its own MetaStore via
    * [[StreamLog]]'s explicit-store constructor, or uses the COMPOSITE
    * form (r17, VERDICT r16 stretch #9 — the one-root-string
    * ergonomics the explicit constructor lacked):
    *
    *   `hadoop:<fsUri>;meta=s3:<endpoint>/<bucket>`
    *
    * which pairs the Hadoop data plane with [[S3MetaStore]] commits
    * (meta object key `<stream>/meta.jsonl` in that bucket) — e.g.
    * `hadoop:s3a://corp/streams;meta=s3:https://s3.amazonaws.com/corp`
    * keeps bytes AND commits in one bucket while scans range-stream
    * through s3a. Because the whole pairing lives in the root STRING,
    * executors re-resolve both planes from the (root, stream) strings
    * a partition already carries — the property the explicit
    * constructor could not provide. */
  def isHadoop(root: String): Boolean = root.startsWith("hadoop:")

  /** Split a hadoop root into (fsUri, optional composite meta root). */
  private def hadoopParts(root: String): (String, Option[String]) = {
    val u = root.stripPrefix("hadoop:")
    val i = u.indexOf(";meta=")
    if (i < 0) (u, None)
    else {
      val mr = u.drop(i + ";meta=".length)
      require(isS3(mr),
        s"composite hadoop root meta plane must be s3:<endpoint>/<bucket>, got $mr")
      (u.take(i), Some(mr))
    }
  }

  /** A root whose stream state lives in its stores, not in a local
    * directory (bucket sim, S3 endpoint, or Hadoop URI): such a stream
    * has no [[StreamLog.streamDir]]. */
  def isBucket(root: String): Boolean = isMem(root) || isS3(root) || isHadoop(root)

  /** The DRIVER's credentials for an s3: root, as a plan-time
    * [[AuthSnapshot]] a task closure carries to executors (ADVICE r15:
    * the [[S3Auth]] registry is per-JVM, so a task that re-resolves a
    * store from (root, stream) strings on a fresh executor would
    * otherwise sign nothing). Tasks call `S3Auth.ensureRegistered`
    * with it before resolving; the embedded plan time is the
    * freshness order replacement follows. When the driver registered a
    * [[CredentialProvider]], the snapshot carries it too, so executor
    * tasks inherit refresh-on-rotation, not a frozen token (r17).
    * None for non-s3 roots or unsigned endpoints. */
  def s3AuthFor(root: String): Option[AuthSnapshot] =
    if (!isS3(root)) None
    else S3Auth.snapshotFor(parseS3(root)._1)

  private def parseS3(root: String): (String, String) = {
    val u = root.stripPrefix("s3:")
    val i = u.lastIndexOf('/')
    require(i > "http://".length && i < u.length - 1,
      s"s3 root must be s3:<endpoint>/<bucket>, got $root")
    (u.substring(0, i), u.substring(i + 1))
  }

  private def key(root: String, stream: String) = s"$root/$stream"

  /** Install custom simulators (e.g. an [[EventualListSegmentStore]] or
    * a race-injecting MetaStore subclass) for a mem-rooted stream so
    * every resolver — handles, DSv2 planner, reading tasks — sees the
    * same instances. */
  def register(root: String, stream: String,
               meta: MetaStore, segs: SegmentStore): Unit = {
    require(isMem(root), s"only mem: roots are registrable, got $root")
    mem.put(key(root, stream), Mem(meta, segs)): Unit
  }

  def metaStore(root: String, stream: String): MetaStore =
    if (isMem(root))
      mem.computeIfAbsent(key(root, stream),
        _ => Mem(new InMemoryMetaStore, new InMemorySegmentStore)).meta
    else if (isS3(root)) {
      val (ep, bucket) = parseS3(root)
      // Registry ref, not a frozen Option: every request re-resolves
      // through S3Auth, so a registered CredentialProvider's rotated
      // STS token reaches long-lived handles mid-job (r17)
      new S3MetaStore(ep, bucket, s"$stream/meta.jsonl", S3AuthRef.Registry(ep))
    } else if (isHadoop(root)) {
      hadoopParts(root) match {
        case (_, Some(mr)) => // composite: S3 conditional-PUT commits
          val (ep, bucket) = parseS3(mr)
          new S3MetaStore(ep, bucket, s"$stream/meta.jsonl",
            S3AuthRef.Registry(ep))
        case (fsUri, None) =>
          val uri = java.net.URI.create(fsUri)
          require(uri.getScheme == null || uri.getScheme == "file",
            s"hadoop:${uri.getScheme}:// roots need an explicit MetaStore — " +
              "the generic FileSystem API has no compare-and-swap; pair the " +
              "Hadoop data plane with a conditional-PUT MetaStore via the " +
              "composite root form (hadoop:<fsUri>;meta=s3:<endpoint>/" +
              "<bucket>) or StreamLog's explicit-store constructor")
          val dir = (if (uri.getScheme == null) Paths.get(uri.getPath)
                     else Paths.get(uri)).resolve(stream)
          new PosixMetaStore(dir.resolve("meta.jsonl"), dir)
      }
    } else {
      val dir = Paths.get(root, stream)
      new PosixMetaStore(dir.resolve("meta.jsonl"), dir)
    }

  def segmentStore(root: String, stream: String): SegmentStore =
    if (isMem(root))
      mem.computeIfAbsent(key(root, stream),
        _ => Mem(new InMemoryMetaStore, new InMemorySegmentStore)).segs
    else if (isS3(root)) {
      val (ep, bucket) = parseS3(root)
      new S3SegmentStore(ep, bucket, s"$stream/segments/",
        S3AuthRef.Registry(ep))
    } else if (isHadoop(root)) {
      val base = hadoopParts(root)._1.stripSuffix("/")
      new HadoopSegmentStore(s"$base/$stream/segments")
    } else new PosixSegmentStore(Paths.get(root, stream, "segments"))

  /** Replay a stream's metadata log through the seam — the DSv2
    * driver-side read ([[MetaLog.replayLines]] over the store's
    * committed lines). */
  def replay(root: String, stream: String): MetaLog.State =
    MetaLog.replayLines(metaStore(root, stream).readWithTag()._1)

  /** Drop a mem-rooted stream's registry entry (destroy path). */
  def dropMem(root: String, stream: String): Unit =
    if (isMem(root)) mem.remove(key(root, stream)): Unit

  /** Stream names under `root`, across every scheme — the fleet
    * catalog's discovery primitive ([[StreamLogs.list]] delegates here
    * for non-POSIX roots, r15: the fleet daemon was POSIX-only before):
    *   - mem: the registry's keys under this root;
    *   - s3: one bucket-wide paginated LIST, a stream being any first
    *     path component that carries a `meta.jsonl` or a `segments/`
    *     object (the same marker rule as the POSIX listing);
    *   - hadoop: `listStatus` of the base URI, same marker rule.
    * Only streams with committed STATE are listed — a name addressed
    * but never published to has no objects, exactly like the
    * reference, where a Durable Object exists the moment it is named
    * but is observable only through its stored state. */
  def listStreams(root: String): Seq[String] =
    if (isMem(root)) {
      val p = root + "/"
      mem.keySet.asScala.toSeq.collect {
        case k if k.startsWith(p) && streamExists(root, k.drop(p.length)) =>
          k.drop(p.length)
      }.sorted
    } else if (isS3(root)) {
      val (ep, bucket) = parseS3(root)
      val all = new S3SegmentStore(ep, bucket, "", S3AuthRef.Registry(ep))
        .list().map(_.name)
      all.collect {
        case k if k.endsWith("/meta.jsonl") && k.count(_ == '/') == 1 =>
          k.stripSuffix("/meta.jsonl")
        case k if k.split("/", -1).length >= 3 && k.split("/", -1)(1) == "segments" =>
          k.takeWhile(_ != '/')
      }.distinct.sorted
    } else if (isHadoop(root)) {
      val (fsUri, metaRoot) = hadoopParts(root)
      val base = new org.apache.hadoop.fs.Path(fsUri)
      val fs = base.getFileSystem(HadoopSegmentStore.conf())
      // marker = a meta log, or a segments/ dir with at least one real
      // object — a BARE segments/ directory is what destroy leaves on
      // hierarchical schemes and must not read as committed state
      // (ADVICE r15: destroyed streams were listed forever)
      def hasSegments(d: org.apache.hadoop.fs.Path): Boolean =
        try fs.listStatus(new org.apache.hadoop.fs.Path(d, "segments"))
          .exists(st => st.isFile && !st.getPath.getName.startsWith("."))
        catch { case _: java.io.FileNotFoundException => false }
      val fromFs =
        try fs.listStatus(base).toSeq
          .filter(s => s.isDirectory &&
            (fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "meta.jsonl")) ||
              hasSegments(s.getPath)))
          .map(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      // composite roots: meta logs live in the S3 bucket, so a stream
      // with committed metadata but no data-plane segments yet is
      // discoverable only there
      val fromMeta = metaRoot.toSeq.flatMap { mr =>
        val (ep, bucket) = parseS3(mr)
        new S3SegmentStore(ep, bucket, "", S3AuthRef.Registry(ep))
          .list().map(_.name).collect {
            case k if k.endsWith("/meta.jsonl") && k.count(_ == '/') == 1 =>
              k.stripSuffix("/meta.jsonl")
          }
      }
      (fromFs ++ fromMeta).distinct.sorted
    } else Seq.empty // POSIX handled by StreamLogs.list's dirlist

  /** Does `stream` have committed state under `root`? Scheme-aware
    * (the fleet sweep's liveness check — replaces the POSIX-only
    * `Files.isDirectory(streamDir)`; a bucket-rooted stream has no
    * local directory, so that check made every one look destroyed):
    *   - mem: a REGISTRY PEEK, never `computeIfAbsent` — probing a name
    *     destroy just dropped must not resurrect a phantom registry
    *     entry (r15 review: one leaked pair per churned name forever),
    *     and the sim's revision tag stays nonzero after clear(), so the
    *     state check reads lines, which is free in-memory;
    *   - everywhere else: one cheap `probeTag` (a HEAD on S3, a stat
    *     on POSIX — tag 0 IS absent on these backends) with a segment
    *     LIST only as the metadata-less fallback. */
  def streamExists(root: String, stream: String): Boolean =
    if (isMem(root)) {
      val m = mem.get(key(root, stream))
      m != null && (m.meta.readWithTag()._1.nonEmpty || m.segs.list().nonEmpty)
    } else if (isHadoop(root)) {
      val (fsUri, metaRoot) = hadoopParts(root)
      if (metaRoot.isDefined)
        // composite: the commit plane answers probeTag (a HEAD), the
        // same liveness rule every bucket root uses
        metaStore(root, stream).probeTag() != 0L ||
          segmentStore(root, stream).list().nonEmpty
      else {
        // probe through the FileSystem layer listStreams already uses —
        // constructing a MetaStore here would REJECT hadoop non-file
        // roots (they need an explicit commit store) and turn every
        // fleet sweep over such a root into one throw per stream
        // (ADVICE r15)
        val base = new org.apache.hadoop.fs.Path(fsUri)
        val fs = base.getFileSystem(HadoopSegmentStore.conf())
        val sd = new org.apache.hadoop.fs.Path(base, stream)
        fs.exists(new org.apache.hadoop.fs.Path(sd, "meta.jsonl")) ||
          segmentStore(root, stream).list().nonEmpty
      }
    } else
      metaStore(root, stream).probeTag() != 0L ||
        segmentStore(root, stream).list().nonEmpty

  /** Whether this root can resolve a MetaStore implicitly
    * ([[metaStore]]): hadoop roots with a non-file scheme cannot — the
    * generic FileSystem API has no compare-and-swap, so they must pair
    * with an explicit commit store. The fleet daemon fails fast on
    * such roots instead of throwing once per stream per sweep
    * (ADVICE r15). */
  def supportsImplicitMetaStore(root: String): Boolean =
    !isHadoop(root) || {
      val (fsUri, metaRoot) = hadoopParts(root)
      metaRoot.isDefined || {
        val uri = java.net.URI.create(fsUri)
        uri.getScheme == null || uri.getScheme == "file"
      }
    }
}
