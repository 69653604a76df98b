package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CompletableFuture, ExecutionException}

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.util.SerializableConfiguration

/** One segment a reading task will open: its name, the SHA-256 its
  * commit recorded, its Hadoop path when the store is
  * Hadoop-addressable (None = the task reads it through the store),
  * and its size, which [[SegmentTasks.pack]] and [[SegmentTasks.chain]]
  * weigh it by. */
final case class SegmentRead(seg: String, sha256: String, path: Option[String], bytes: Long)

/** What a task's [[SegmentWriter]] put: the segment's name, offset
  * range, record and byte counts and SHA-256 (name empty = it wrote
  * nothing and put nothing). */
final case class SegmentCommit(name: String, firstOffset: String, lastOffset: String,
                               records: Long, bytes: Long,
                               sha256: String = "") extends WriterCommitMessage

/** The Spark-task side of the segment format (`offset(32) ++ json ++
  * '\n'` lines). [[StreamLog.readAfter]] and the DSv2 batch/micro-batch
  * reader plan with [[plan]], pack the reads into a few ordered tasks
  * with [[pack]], and each task reads its list with [[chain]];
  * compaction's merge chains one window per task. Compaction's merge
  * and the DSv2 bulk load and streaming sink write segments with
  * [[SegmentWriter]]. */
object SegmentTasks {

  /** One [[SegmentRead]] per segment, in order; paths come from
    * [[SegmentStore.scanPaths]]. */
  def plan(store: SegmentStore, segs: Seq[SegmentMeta]): Seq[SegmentRead] = {
    val paths = store.scanPaths(segs.map(_.name))
      .fold(segs.map(_ => Option.empty[String]))(_.map(Some(_)))
    segs.zip(paths).map { case (m, p) => SegmentRead(m.name, m.sha256, p, m.bytes) }
  }

  /** `reads`, in order, cut into the partitions Spark's own file scans
    * make of files of the same sizes: a read weighs its bytes plus
    * `spark.sql.files.openCostInBytes`, and a partition closes before
    * its bytes would pass [[FilePartition.maxSplitBytes]] of the summed
    * weight (`min(maxPartitionBytes, max(openCost, Σ ÷ minPartitionNum))`,
    * `minPartitionNum` defaulting to the leaf-node parallelism), as in
    * `FilePartition.getFilePartitions`. Many small segments so make
    * about `minPartitionNum` tasks, and a partition holds at most
    * `maxPartitionBytes ÷ openCost` segments (32 at Spark's defaults). */
  def pack(spark: SparkSession, reads: Seq[SegmentRead]): Seq[Seq[SegmentRead]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, reads.map(_.bytes + openCost).sum)
    val parts = Vector.newBuilder[Seq[SegmentRead]]
    var part = Vector.empty[SegmentRead]
    var size = 0L
    reads.foreach { r =>
      if (part.nonEmpty && size + r.bytes > maxSplit) { parts += part; part = Vector.empty; size = 0L }
      part :+= r
      size += r.bytes + openCost
    }
    if (part.nonEmpty) parts += part
    parts.result()
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

  /** Segment `r`'s lines, read inside a task and verified against its
    * SHA-256 once drained ([[SegmentIntegrity.verified]]: an early exit
    * under a pushed limit neither pays for nor fakes a check).
    *
    * With a path the lines stream through the Hadoop FileSystem opened
    * with `conf`, the driver's session conf (so `spark.hadoop.*` s3a
    * credentials reach the task; a path-bearing read planned without one
    * falls back to this JVM's [[HadoopSegmentStore.conf]]); the stream
    * closes when the task ends, since a limit may abandon the iterator
    * mid-segment. Without one the lines come from the
    * [[SegmentStore.linesIterator]] of the store [[store]] resolves for
    * `key`. */
  def lines(root: String, stream: String, r: SegmentRead, auth: Option[AuthSnapshot],
            conf: Option[Broadcast[SerializableConfiguration]],
            key: Option[String] = None): Iterator[String] = {
    val raw = r.path match {
      case Some(p) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val c = conf.fold(HadoopSegmentStore.conf())(_.value.value)
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          hp.getFileSystem(c).open(hp), UTF_8))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => br.close()))
        Iterator.continually(br.readLine()).takeWhile(_ != null)
      case None => store(root, stream, auth, key).linesIterator(r.seg)
    }
    SegmentIntegrity.verified(r.seg, r.sha256, raw)
  }

  /** Bytes of segments a [[chain]] keeps opened and undrained: the s3:
    * store's own readahead for one read, `PrefetchDepth` chunks of
    * `DefaultRangeChunk` (12 MiB). */
  private val ReadaheadBytes: Long = S3SegmentStore.PrefetchDepth.toLong * S3SegmentStore.DefaultRangeChunk

  /** The [[lines]] of each of `reads`, in order, as one iterator; each
    * segment is verified once drained. Reads without a path (the `s3:`
    * and `mem:` GET path) are opened ahead on
    * [[S3SegmentStore.prefetchPool]]: the next segment always, and more
    * while the bytes of the opened, undrained segments stay within
    * `budget`, so their round trips overlap the current segment's
    * drain. A fault in a segment opened ahead (not found, a digest
    * mismatch) surfaces only when the chain reaches it, so a consumer
    * that stops earlier succeeds. Path reads open one after another:
    * [[lines]] registers their close with the task's thread-local
    * `TaskContext`, which a pool thread lacks. */
  def chain(root: String, stream: String, reads: Seq[SegmentRead],
            auth: Option[AuthSnapshot],
            conf: Option[Broadcast[SerializableConfiguration]],
            key: Option[String] = None, budget: Long = ReadaheadBytes): Iterator[String] = {
    def open(r: SegmentRead) = lines(root, stream, r, auth, conf, key)
    if (reads.exists(_.path.isDefined)) reads.iterator.flatMap(open)
    else new Readahead(reads.toIndexedSeq, open, budget).flatten
  }

  /** Each of `reads`' opened line iterators in turn ([[chain]]). A
    * read's open runs on the pool and pulls its first lines, i.e. its
    * first GET; `next()` is called once the previous read drained. */
  private final class Readahead(reads: IndexedSeq[SegmentRead],
                                open: SegmentRead => Iterator[String],
                                budget: Long) extends Iterator[Iterator[String]] {
    private val ahead = mutable.Queue.empty[CompletableFuture[Iterator[String]]]
    private var opened = 0     // reads opened so far
    private var taken = 0      // reads handed out so far
    private var undrained = 0L // bytes opened and not drained, the current read's too

    private def topUp(): Unit =
      while (opened < reads.length &&
             (ahead.isEmpty || undrained + reads(opened).bytes <= budget)) {
        val r = reads(opened)
        ahead.enqueue(CompletableFuture.supplyAsync(
          () => { val it = open(r); it.hasNext; it }, S3SegmentStore.prefetchPool))
        undrained += r.bytes
        opened += 1
      }

    override def hasNext: Boolean = taken < reads.length

    override def next(): Iterator[String] = {
      if (taken > 0) undrained -= reads(taken - 1).bytes
      topUp()
      val f = ahead.dequeue()
      taken += 1
      topUp()
      // get(), unlike join(), gives way to a cancelled task's interrupt
      try f.get()
      catch { case e: ExecutionException => throw Option(e.getCause).getOrElse(e) }
    }
  }

  /** Segment stores lent to the tasks of one running job ([[lend]]). */
  private val lent = new java.util.concurrent.ConcurrentHashMap[String, SegmentStore]()

  /** Runs `body` with `store` lent under a fresh key for the tasks of
    * the job `body` runs: a task in this JVM (every task under a `local`
    * master) reads and writes through `store` itself, so a handle's
    * explicit store (its multipart threshold, injected faults, tracing)
    * sees those GETs and the put as it would driver-side ones; a task
    * on another executor, where the key is unknown, re-resolves the
    * store from `(root, stream)`. */
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
    * lines in order, read as one [[chain]]. Each input is verified once
    * drained, as every full read is; the inputs are read and the merged
    * segment goes up through the store lent under `key` ([[store]]). */
  def merge(root: String, stream: String, window: Seq[SegmentRead],
            auth: Option[AuthSnapshot],
            conf: Option[Broadcast[SerializableConfiguration]],
            key: String): SegmentCommit = {
    val out = new SegmentWriter(store(root, stream, auth, Some(key)),
      s"m-${UUID.randomUUID()}")
    try {
      chain(root, stream, window, auth, conf, Some(key))
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
