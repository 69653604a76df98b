package graft.sources

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.streamlog.{Offset, S3LiteServer, StreamLog}

/** `file:` FileSystem that counts the files it opens; a session that
  * names it as `fs.file.impl` shows whether its Hadoop conf reached a
  * reading task. */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}
object CountingLocalFs { val opens = new AtomicInteger }

/** The fixed cost a scan or micro-batch trigger pays before it reads a
  * record: the metadata reads that plan it and what every task is sent.
  * A trigger's `latestOffset`, `reportLatestOffset` and
  * `planInputPartitions` share one replay of the metadata log, and the
  * session's Hadoop conf reaches tasks as one broadcast, never inside
  * each task.
  */
class TriggerCostSpec extends SparkSpec {

  private val Meta = "s1/meta.jsonl"

  private def withServer(f: (S3LiteServer, String) => Unit): Unit = {
    val srv = new S3LiteServer()
    try f(srv, s"s3:${srv.endpoint}/b") finally srv.stop()
  }

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  private def rec(i: Int) = s"""{"i":$i}"""

  /** (offset, data) rows of a planned batch, read as its tasks read them. */
  private def read(mb: StreamLogMicroBatch, parts: Array[InputPartition]): Seq[(String, String)] = {
    val factory = mb.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get())
        .map(row => (row.getUTF8String(0).toString, row.getUTF8String(1).toString)).toVector
      finally r.close()
    }
  }

  private def javaSize(o: AnyRef): Int = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size
  }

  /** The per-segment reading closures of a plan ([[StreamLog]]'s
    * rawLines, shared by readAfter and compaction). */
  private def closures(qe: QueryExecution): Seq[AnyRef] =
    qe.analyzed.collect { case m: MapPartitions => m.func: AnyRef }

  test("a trigger reads the metadata log once: reportLatestOffset and planInputPartitions reuse latestOffset's replay") {
    withServer { (srv, root) =>
      val c = clock(9100000)
      val log = new StreamLog(spark, root, "s1")
      val offs = (1 to 3).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
      val mb = new StreamLogMicroBatch(root, "s1", Offset.Beginning)
      val start = mb.initialOffset()
      val g0 = srv.getsOf(Meta)
      val end = mb.latestOffset(start, mb.getDefaultReadLimit)
      assert(mb.reportLatestOffset() == end)
      val parts = mb.planInputPartitions(start, end)
      assert(srv.getsOf(Meta) - g0 == 1, s"one trigger read the log ${srv.getsOf(Meta) - g0} times")
      assert(read(mb, parts).map(_._1) == offs)
      // a trigger with nothing new: one read as well
      val g1 = srv.getsOf(Meta)
      assert(mb.latestOffset(end, mb.getDefaultReadLimit) == end)
      assert(mb.reportLatestOffset() == end)
      assert(srv.getsOf(Meta) - g1 == 1)
    }
  }

  test("a plan past the replayed state replays the log: a later until and a restarted stream") {
    withServer { (srv, root) =>
      val c = clock(9200000)
      val log = new StreamLog(spark, root, "s1")
      val first = (1 to 2).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
      val mb = new StreamLogMicroBatch(root, "s1", Offset.Beginning)
      val start = mb.initialOffset()
      assert(mb.latestOffset(start, mb.getDefaultReadLimit) == StreamLogOffset(first.last))
      val more = (3 to 4).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
      val until = StreamLogOffset(more.last)
      val g0 = srv.getsOf(Meta)
      val parts = mb.planInputPartitions(start, until)
      assert(srv.getsOf(Meta) - g0 == 1, "an until past the kept state must replay")
      assert(read(mb, parts).map(_._1) == first ++ more)
      // a stream built after a restart plans its recovered batch with no
      // latestOffset before it
      val restarted = new StreamLogMicroBatch(root, "s1", Offset.Beginning)
      val g1 = srv.getsOf(Meta)
      val again = restarted.planInputPartitions(start, until)
      assert(srv.getsOf(Meta) - g1 == 1)
      assert(read(restarted, again).map(_._1) == first ++ more)
    }
  }

  test("a maintain() between latestOffset and planInputPartitions still delivers every record exactly once") {
    withServer { (_, root) =>
      val c = clock(9300000)
      val log = new StreamLog(spark, root, "s1")
      val offs = (1 to 6).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
      val mb = new StreamLogMicroBatch(root, "s1", Offset.Beginning)
      val start = mb.initialOffset()
      val end = mb.latestOffset(start, mb.getDefaultReadLimit)
      mb.reportLatestOffset()
      assert(log.maintain(nowMs = c).compacted.nonEmpty, "the pass must merge the planned segments")
      val batch1 = read(mb, mb.planInputPartitions(start, end))
      val more = (7 to 8).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
      val end2 = mb.latestOffset(end, mb.getDefaultReadLimit)
      val batch2 = read(mb, mb.planInputPartitions(end, end2))
      assert((batch1 ++ batch2).map(_._1) == offs ++ more)
      assert((batch1 ++ batch2).map(_._2) == (1 to 8).map(rec))
    }
  }

  test("reader factories and the segment-reading closures carry no Hadoop conf: under 4 KB on s3: and POSIX roots") {
    withServer { (_, s3Root) =>
      val c = clock(9400000)
      val posixRoot = Files.createTempDirectory("graft-trigger-cost").toString
      for (root <- Seq(s3Root, posixRoot)) {
        val log = new StreamLog(spark, root, "s1")
        (1 to 4).foreach(i => log.publish(Seq(rec(i)), nowMs = c))
        val factories = Seq(
          new StreamLogScan(root, "s1", Offset.Beginning).createReaderFactory(),
          new StreamLogMicroBatch(root, "s1", Offset.Beginning).createReaderFactory())
        factories.foreach { f =>
          assert(javaSize(f) < 4096, s"$root: reader factory serializes to ${javaSize(f)} bytes")
        }
        val readAfter = closures(log.readAfter().queryExecution)
        assert(readAfter.nonEmpty)
        readAfter.foreach { f =>
          assert(javaSize(f) < 4096, s"$root: readAfter's closure serializes to ${javaSize(f)} bytes")
        }
        // compaction's merge job: every window's closure, as the job ran it
        val seen = ArrayBuffer.empty[AnyRef]
        val listener = new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            seen.synchronized(seen ++= closures(qe))
          override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          assert(log.compactOnce(nowMs = c).nonEmpty)
          val deadline = System.currentTimeMillis() + 20000
          while (seen.synchronized(seen.isEmpty) && System.currentTimeMillis() < deadline)
            Thread.sleep(20)
        } finally spark.listenerManager.unregister(listener)
        val merged = seen.synchronized(seen.toVector)
        assert(merged.nonEmpty, s"$root: the merge job's plan was not seen")
        merged.foreach { f =>
          assert(javaSize(f) < 4096, s"$root: the merge closure serializes to ${javaSize(f)} bytes")
        }
        log.destroy()
      }
    }
  }

  test("a session Hadoop setting reaches the tasks of POSIX and hadoop: scans, readStream batches and readAfter") {
    val c = clock(9500000)
    val posix = Files.createTempDirectory("graft-trigger-conf").toString
    val hadoop = s"hadoop:file://${Files.createTempDirectory("graft-trigger-conf-h")}"
    // set on the session at run time: only the driver's session conf
    // holds it, so a task sees it only if that conf was shipped
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      for (root <- Seq(posix, hadoop)) {
        val log = new StreamLog(spark, root, "s1")
        val offs = (1 to 3).flatMap(i => log.publish(Seq(rec(i)), nowMs = c))
        def opened(body: => Unit): Int = {
          val before = CountingLocalFs.opens.get
          body
          CountingLocalFs.opens.get - before
        }
        val scan = opened {
          val rows = spark.read.format("streamlog").option("path", root)
            .option("stream", "s1").load().collect()
          assert(rows.map(_.getString(0)).sorted.toSeq == offs)
        }
        assert(scan == 3, s"$root: the batch scan's tasks opened $scan files through the session's FileSystem")
        val mb = new StreamLogMicroBatch(root, "s1", Offset.Beginning)
        val start = mb.initialOffset()
        val batch = opened {
          val rows = read(mb, mb.planInputPartitions(start, mb.latestOffset(start, mb.getDefaultReadLimit)))
          assert(rows.map(_._1) == offs)
        }
        assert(batch == 3, s"$root: the micro-batch's readers opened $batch files through the session's FileSystem")
        val after = opened(assert(log.readAfter().count() == 3L))
        assert(after == 3, s"$root: readAfter's tasks opened $after files through the session's FileSystem")
        log.destroy()
      }
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
