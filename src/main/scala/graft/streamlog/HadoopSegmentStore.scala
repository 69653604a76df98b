package graft.streamlog

import java.io.FileNotFoundException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** [[SegmentStore]] over `org.apache.hadoop.fs.FileSystem` — the
  * adapter that closes r14's stated gap between "the bucket protocol is
  * proven" and "point spark-submit at s3a:// and go": any
  * Hadoop-addressable scheme (file, hdfs, s3a, gcs, abfs — they all
  * implement create/open/listStatus/delete) roots the segment DATA
  * plane here, and [[scanPaths]] returns the REAL URIs, so the one
  * task-side segment reader ([[SegmentTasks.lines]], behind
  * [[StreamLog.readAfter]], compaction and the DSv2 batch/micro-batch
  * scan) streams file reads (incremental line decoding) instead of the
  * whole-object-GET fallback the non-addressable stores force.
  *
  * Atomic-visibility strategy per scheme ([[SegmentStore]] contract:
  * a reader sees the complete object or no object):
  *   - rename-commit filesystems (file, hdfs, viewfs, abfs/abfss —
  *     hierarchical stores whose create() is visible BEFORE close and
  *     whose rename is an atomic metadata move): write a dot-prefixed
  *     temp in the same directory, then `rename` — the classic commit;
  *     dot-files are excluded from [[list]] (and from Spark file
  *     scans), so an in-flight write is never visible.
  *   - flat object stores (s3a, gcs): `create` + `close` IS the
  *     whole-object PUT (visible only on close), so the bytes go
  *     straight to the final name — a rename there would be a
  *     copy+delete that adds cost without adding atomicity.
  *
  * The metadata COMMIT plane is deliberately not this class:
  * conditional append needs a compare-and-swap primitive the generic
  * FileSystem API does not ship. A `hadoop:file://…` root pairs with
  * [[PosixMetaStore]] (same machine semantics) automatically via
  * [[StreamStores]]; a cluster deployment over s3a pairs this data
  * plane with [[S3MetaStore]]'s conditional-PUT commits — either via
  * the COMPOSITE root string
  * `hadoop:<fsUri>;meta=s3:<endpoint>/<bucket>` (r17: one string,
  * executor-resolvable, battery-tested in HadoopStreamLogSpec) or by
  * constructing [[StreamLog]] with explicit stores.
  *
  * The `Configuration` is the process default (core-site on the
  * classpath) ENRICHED with the running Spark application's
  * `spark.hadoop.*` properties — the standard spark-submit way to
  * ship s3a/abfs credentials — resolved once per JVM via SparkEnv, so
  * it works identically on the driver and on executors re-resolving
  * the store from the same base-URI string a partition carries,
  * exactly how an s3a path resolves to a client inside each task.
  */
final class HadoopSegmentStore(baseUri: String) extends SegmentStore {

  private val base = new HPath(baseUri)
  // FileSystem.get is cache-backed (keyed by scheme+authority), so
  // per-call resolution is a map lookup, not a client construction
  private def fs: FileSystem = base.getFileSystem(HadoopSegmentStore.conf())

  private def renameCapable(fs: FileSystem): Boolean =
    HadoopSegmentStore.RenameSchemes.contains(fs.getScheme)

  private def path(name: String): HPath = new HPath(base, name)

  /** rename with overwrite semantics: HDFS/viewfs `rename(src, dst)`
    * returns false when dst exists, but the [[SegmentStore]] contract's
    * requirement #3 makes retried puts OVERWRITES (an ambiguous upload
    * retried under the same deterministic name, identical content) —
    * so a refused rename deletes the stale dst and renames again
    * (r15 review; LocalFileSystem masked this by delegating to
    * File.renameTo, which overwrites on POSIX). The brief absence
    * window is safe exactly because a retried put implies the
    * metadata commit for this name never landed — nothing reads an
    * uncommitted name except the orphan sweep, which re-lists.
    *
    * FAIL-LOUDLY (r16 review, third pass — this REVERSED the r15
    * "success-by-peer" design, do not restore it): tmps are
    * per-attempt UNIQUE, so nothing legitimate ever takes ours — a
    * vanished tmp means external interference and throws; and a dst
    * that persists through the retry bound throws rather than reading
    * as success, because an undeletable dst (permissions) may hold
    * STALE content. Both silent-success paths were lost-update bugs. */
  private def renameOver(f: FileSystem, tmp: HPath, dst: HPath): Unit = {
    var attempts = 0
    var nonDstFailures = 0
    while (true) {
      if (f.rename(tmp, dst)) return
      if (!f.exists(tmp)) {
        // tmps are per-attempt UNIQUE, so nothing legitimate takes
        // ours — a vanished tmp means external interference (a debris
        // sweep, a manual clean). Returning success against whatever
        // dst holds would be a silent lost update when the contents
        // differ (r16 review, third pass) — fail loudly instead.
        throw new java.io.IOException(
          s"rename $tmp -> $dst failed: staging vanished mid-commit " +
            "(debris sweep or external interference?)")
      }
      if (!f.exists(dst)) {
        // refused with NO dst present: either a transient window (a
        // peer deleted dst between our failed rename and this check —
        // retry covers it) or a genuine FS refusal (bad parent,
        // transient store error) — fail FAST on the latter instead of
        // burning a hundred RPC cycles with a misleading message
        // (r16 review)
        nonDstFailures += 1
        if (nonDstFailures > 2)
          throw new java.io.IOException(
            s"rename $tmp -> $dst failed with no destination present")
      } else {
        nonDstFailures = 0 // the no-dst window closed — a genuine FS
        // refusal repeats consecutively; contention alternates
        // dst exists: concurrent same-name racers can re-land dst
        // between our delete and rename, so a single retry is a
        // check-then-act race — loop, bounded, and THROW past the
        // bound (see the fail-loudly scaladoc note above)
        attempts += 1
        if (attempts > 100)
          // NOT success-by-peer: a persistently undeletable dst
          // (permissions) would otherwise read as success while dst
          // holds STALE content (r16 review, third pass)
          throw new java.io.IOException(
            s"rename $tmp -> $dst failed after $attempts attempts " +
              "(destination persistently present)")
        f.delete(dst, false)
      }
    }
  }

  override def put(name: String, bytes: Array[Byte]): Unit = {
    val f = fs
    if (renameCapable(f)) {
      // per-attempt UNIQUE tmp (ADVICE r15): concurrent retries of the
      // same deterministic put must not collide on one tmp path — with
      // a shared name one retry renames (or chmods) the tmp out from
      // under another mid-create; unique tmps make every attempt's
      // staging private, and the rename itself stays the commit point
      val tmp = new HPath(base, s".$name.${UUID.randomUUID()}.put.tmp")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      renameOver(f, tmp, path(name))
    } else {
      val out = f.create(path(name), true) // visible-whole-on-close
      try out.write(bytes) finally out.close()
    }
  }

  override def get(name: String): Array[Byte] =
    // the FNFE -> NoSuchFileException translation wraps the READ too,
    // not just open(): object-store schemes (s3a) open lazily and
    // surface absence from the first byte fetch (r16 review, second
    // pass — the rebuild ghost-skip depends on this contract)
    try {
      val in = fs.open(path(name))
      try in.readAllBytes()
      finally in.close()
    } catch { case _: FileNotFoundException =>
      throw new java.nio.file.NoSuchFileException(path(name).toString) }

  override def list(): Seq[ObjectInfo] =
    try fs.listStatus(base).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(s => ObjectInfo(s.getPath.getName, s.getModificationTime))
      .sortBy(_.name)
    catch { case _: FileNotFoundException => Seq.empty }

  override def delete(name: String): Unit =
    fs.delete(path(name), false): Unit // idempotent: false on absent

  /** Remove the empty `segments/` dir and (if then empty) the stream
    * directory a destroy leaves behind on hierarchical schemes —
    * without this, [[StreamStores.listStreams]] would catalog the
    * destroyed stream forever while streamExists reports false
    * (ADVICE r15). Non-empty directories are left untouched. */
  override def dropContainer(): Unit = {
    val f = fs
    // best-effort by contract: the stream is already destroyed when
    // this runs. A concurrent re-creation between the empty check and
    // the non-recursive delete makes the delete throw (dir no longer
    // empty) — absorb ANY IOException, not just absence, so destroy()
    // never fails after having succeeded (r16 review)
    try {
      if (f.exists(base) && f.listStatus(base).isEmpty)
        f.delete(base, false)
      val parent = base.getParent
      if (parent != null && f.exists(parent) && f.listStatus(parent).isEmpty)
        f.delete(parent, false): Unit
    } catch { case _: java.io.IOException => () }
  }

  override def putFromFile(name: String, local: java.nio.file.Path): Unit = {
    val f = fs
    val src = new HPath(local.toUri)
    if (renameCapable(f)) {
      val tmp = new HPath(base, s".$name.${UUID.randomUUID()}.put.tmp")
      f.mkdirs(base)
      f.copyFromLocalFile(true, true, src, tmp)
      renameOver(f, tmp, path(name))
    } else f.copyFromLocalFile(true, true, src, path(name))
  }

  /** Stale write debris: a crash between create and rename leaves a
    * unique `.name.<uuid>.tmp` behind that [[list]] hides and the
    * orphan sweep therefore cannot see — collect those past the grace
    * window here (called from StreamLog.purgeOrphans). Deleting
    * through the FileSystem also removes checksum sidecars. */
  override def sweepDebris(olderThanMs: Long, nowMs: Long): Seq[String] =
    // `.put.tmp` PUT staging at the caller's grace; any OTHER hidden
    // .tmp (crash-leaked writer spools, pre-r16 fixed-name staging)
    // only past a 24 h floor — a live spool's mtime moves as its task
    // flushes, and a day-stale one has no living owner (r16 review,
    // second pass: the narrow suffix left legacy debris uncollectable)
    try fs.listStatus(base).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.startsWith(".") && n.endsWith(".tmp") && {
          // put staging floors at 1 h: a multi-GiB copyFromLocalFile
          // staging's mtime may not advance until close, and sweeping
          // it mid-upload fails the commit (r16 review, third pass);
          // spools/legacy floors at 24 h as before
          val age = if (n.endsWith(".put.tmp"))
              math.max(olderThanMs, SegmentStore.PutStagingSweepFloorMs)
            else math.max(olderThanMs, SegmentStore.SpoolSweepFloorMs)
          s.getModificationTime <= nowMs - age
        }
      }
      .map { s => fs.delete(s.getPath, false); s.getPath.getName }
      .sorted
    catch { case _: FileNotFoundException => Seq.empty }

  /** Real URIs — the whole point of this adapter: the task-side reader
    * ([[SegmentTasks.lines]]) streams these through the FileSystem layer
    * instead of GETting whole objects. */
  override def scanPaths(names: Seq[String]): Option[Seq[String]] =
    Some(names.map(n => path(n).toString))
}

object HadoopSegmentStore {
  /** The Hadoop configuration for this JVM: the defaults (core-site on
    * the classpath) PLUS any `spark.hadoop.*` properties from the
    * running Spark application — the standard spark-submit way to ship
    * s3a/abfs credentials, which a bare `new Configuration()` would
    * ignore (r15 review: the DSv2 readers were fixed to carry the
    * session conf; the data-plane writes and fleet discovery resolve
    * through here, which works on the DRIVER and on EXECUTORS alike
    * via SparkEnv). Memoized — SparkEnv and its spark.hadoop.* entries
    * are stable for the JVM's lifetime, and rebuilding a Configuration
    * per put/get/list would be pure hot-path overhead (FileSystem.get
    * ignores the conf on cache hits anyway). Only Spark's ABSENCE
    * (LinkageError on a plain JVM) is absorbed; a failure while
    * copying entries propagates rather than silently truncating the
    * credential set. */
  private lazy val enrichedConf: Configuration = {
    val c = new Configuration()
    val env =
      try org.apache.spark.SparkEnv.get
      catch { case _: LinkageError => null } // no Spark on the classpath
    if (env != null) env.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop."))
        c.set(k.substring("spark.hadoop.".length), v)
    }
    c
  }
  private[streamlog] def conf(): Configuration = enrichedConf

  /** Schemes whose rename is a metadata move (atomic commit point) AND
    * whose create() makes the path visible before close — these MUST
    * commit via dot-tmp + rename or a reader can observe a partial
    * file. abfs/abfss (ADLS Gen2) belongs here: it is hierarchical
    * with atomic rename, and its create() is visible immediately with
    * progressive flushes (r15 review — create-on-close would violate
    * the whole-or-absent contract there). s3a/gcs stay on the
    * create-on-close path: their "rename" is a copy+delete that adds
    * cost without adding atomicity, and the object becomes visible
    * only at close. */
  private[streamlog] val RenameSchemes =
    Set("file", "hdfs", "viewfs", "abfs", "abfss")
}
