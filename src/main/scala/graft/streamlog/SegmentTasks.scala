package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** One segment a reading task will open: its name, the SHA-256 its
  * commit recorded, and its Hadoop path when the store is
  * Hadoop-addressable (None = the task reads it through the store). */
final case class SegmentRead(seg: String, sha256: String, path: Option[String])

/** The Spark-task side of the segment format (`offset(32) ++ json ++
  * '\n'` lines): [[StreamLog.readAfter]], compaction's merge and the
  * DSv2 batch/micro-batch reader all plan with [[plan]] and open
  * segments with [[lines]]. */
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
      case None =>
        auth.foreach(S3Auth.ensureRegistered)
        StreamStores.segmentStore(root, stream).linesIterator(seg)
    }
    SegmentIntegrity.verified(seg, sha256, raw)
  }
}
