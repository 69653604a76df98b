package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.UUID

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.util.SerializableConfiguration

/** One segment a reading task will open: its name, the SHA-256 its
  * commit recorded, and its Hadoop path when the store is
  * Hadoop-addressable (None = the task reads it through the store). */
final case class SegmentRead(seg: String, sha256: String, path: Option[String])

/** What a task's [[SegmentWriter]] put: the segment's name, offset
  * range, record and byte counts and SHA-256 (name empty = it wrote
  * nothing and put nothing). */
final case class SegmentCommit(name: String, firstOffset: String, lastOffset: String,
                               records: Long, bytes: Long,
                               sha256: String = "") extends WriterCommitMessage

/** The Spark-task side of the segment format (`offset(32) ++ json ++
  * '\n'` lines): [[StreamLog.readAfter]], compaction's merge and the
  * DSv2 batch/micro-batch reader all plan with [[plan]] and open
  * segments with [[lines]]; compaction's merge and the DSv2 bulk load
  * and streaming sink write segments with [[SegmentWriter]]. */
object SegmentTasks {

  /** One [[SegmentRead]] per segment, in order; paths come from
    * [[SegmentStore.scanPaths]]. */
  def plan(store: SegmentStore, segs: Seq[SegmentMeta]): Seq[SegmentRead] = {
    val paths = store.scanPaths(segs.map(_.name))
      .fold(segs.map(_ => Option.empty[String]))(_.map(Some(_)))
    segs.zip(paths).map { case (m, p) => SegmentRead(m.name, m.sha256, p) }
  }

  /** The driver session's Hadoop conf for the tasks of ONE scan or
    * merge, broadcast once (Spark's own file scans ship theirs the same
    * way): an executor deserializes it once, where a conf carried in
    * every task is deserialized again by every task — ~1,100 entries,
    * ~110 KB. None for `mem:` and `s3:` roots, whose segments carry no
    * path ([[SegmentStore.scanPaths]]), so their tasks never read it. */
  def hadoopConf(spark: SparkSession, root: String): Option[Broadcast[SerializableConfiguration]] =
    if (StreamStores.isMem(root) || StreamStores.isS3(root)) None
    else Some(spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf())))

  /** Segment `seg`'s lines, read inside a task and verified against
    * `sha256` once drained ([[SegmentIntegrity.verified]]: an early exit
    * under a pushed limit neither pays for nor fakes a check).
    *
    * With a `path` the lines stream through the Hadoop FileSystem opened
    * with `conf`, the driver's session conf (so `spark.hadoop.*` s3a
    * credentials reach the task; a path-bearing read planned without one
    * falls back to this JVM's [[HadoopSegmentStore.conf]]); the stream
    * closes when the task ends, since a limit may abandon the iterator
    * mid-segment. Without one the task registers the driver's `auth`
    * snapshot (the [[S3Auth]] registry is per-JVM), re-resolves the
    * store from `(root, stream)` and reads its
    * [[SegmentStore.linesIterator]]. */
  def lines(root: String, stream: String, seg: String, sha256: String,
            path: Option[String], auth: Option[AuthSnapshot],
            conf: Option[Broadcast[SerializableConfiguration]]): Iterator[String] = {
    val raw = path match {
      case Some(p) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val c = conf.fold(HadoopSegmentStore.conf())(_.value.value)
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          hp.getFileSystem(c).open(hp), UTF_8))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => br.close()))
        Iterator.continually(br.readLine()).takeWhile(_ != null)
      case None => store(root, stream, auth).linesIterator(seg)
    }
    SegmentIntegrity.verified(seg, sha256, raw)
  }

  /** Segment stores lent to the tasks of one running job ([[lend]]). */
  private val lent = new java.util.concurrent.ConcurrentHashMap[String, SegmentStore]()

  /** Runs `body` with `store` lent under a fresh key for the tasks of
    * the job `body` runs: a task in this JVM (every task under a `local`
    * master) writes through `store` itself, so a handle's explicit store
    * (its multipart threshold, injected faults, tracing) sees the put as
    * it would a driver-side one; a task on another executor, where the
    * key is unknown, re-resolves the store from `(root, stream)`. */
  def lend[T](store: SegmentStore)(body: String => T): T = {
    val key = UUID.randomUUID().toString
    lent.put(key, store)
    try body(key) finally lent.remove(key)
  }

  /** The store a task reads or writes through: the one lent under `key`
    * if this JVM lent it, else `(root, stream)`'s, after registering the
    * driver's `auth` snapshot (the [[S3Auth]] registry is per-JVM). */
  def store(root: String, stream: String, auth: Option[AuthSnapshot],
            key: Option[String] = None): SegmentStore = {
    auth.foreach(S3Auth.ensureRegistered)
    key.flatMap(k => Option(lent.get(k)))
      .getOrElse(StreamStores.segmentStore(root, stream))
  }

  /** Merge one compaction window inside its task: the window's segments
    * are contiguous and non-overlapping, so the merged segment is their
    * lines in order. Each input is verified once drained, as every
    * full read is; the merged segment goes up through the store lent
    * under `key` ([[store]]). */
  def merge(root: String, stream: String, window: Seq[SegmentRead],
            auth: Option[AuthSnapshot],
            conf: Option[Broadcast[SerializableConfiguration]],
            key: String): SegmentCommit = {
    val out = new SegmentWriter(store(root, stream, auth, Some(key)),
      s"m-${UUID.randomUUID()}")
    try {
      window.iterator
        .flatMap(s => lines(root, stream, s.seg, s.sha256, s.path, auth, conf))
        .foreach(l => out.write(l.take(Offset.Width), l.drop(Offset.Width)))
      out.commit()
    } catch { case e: Throwable => out.abort(); throw e }
  }
}

/** Writes one new segment from a task: records are spooled as
  * `offset ++ data ++ '\n'` lines, digested as they go (no re-read at
  * commit), and the spool is put as `<firstOffset>-<uuid>.seg`. Offsets
  * must strictly increase, so no writer can emit an unsorted segment.
  * Built on the executor over [[SegmentTasks.store]]. */
final class SegmentWriter(store: SegmentStore, spoolHint: String) {
  private val tmp = store.newSpool(spoolHint)
  private lazy val out = Files.newBufferedWriter(tmp, UTF_8)
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private var first: String = _
  private var last: String = _
  private var written = 0L
  private var bytes = 0L

  /** Records written so far. */
  def records: Long = written

  def write(off: String, data: String): Unit = {
    require(off.length == Offset.Width, s"bad offset '$off'")
    require(last == null || last < off, s"unsorted offsets: $last then $off")
    require(!data.contains('\n') && !data.contains('\r'),
      "records must not contain newlines (NDJSON segment format)")
    if (first == null) first = off
    last = off
    out.write(off); out.write(data); out.write("\n")
    val dataBytes = data.getBytes(UTF_8)
    md.update(off.getBytes(UTF_8)); md.update(dataBytes); md.update('\n'.toByte)
    written += 1
    bytes += Offset.Width + 1L + dataBytes.length
  }

  def commit(): SegmentCommit = {
    if (written == 0) {
      // the default newSpool creates the file eagerly: don't leak it
      Files.deleteIfExists(tmp)
      return SegmentCommit("", "", "", 0L, 0L)
    }
    out.close()
    val name = s"$first-${UUID.randomUUID()}.seg"
    store.putFromFile(name, tmp)
    SegmentCommit(name, first, last, written, bytes, SegmentIntegrity.hex(md))
  }

  def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    Files.deleteIfExists(tmp)
  }
}
