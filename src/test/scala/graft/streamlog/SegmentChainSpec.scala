package graft.streamlog

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** Delegates to `inner`, counting the line reads and spooled puts that
  * reach it. */
final class CountingSegmentStore(inner: SegmentStore) extends SegmentStore {
  val linesIterators = new AtomicInteger
  val putsFromFile = new AtomicInteger
  override def put(name: String, bytes: Array[Byte]): Unit = inner.put(name, bytes)
  override def get(name: String): Array[Byte] = inner.get(name)
  override def list(): Seq[ObjectInfo] = inner.list()
  override def delete(name: String): Unit = inner.delete(name)
  override def deleteMany(names: Seq[String]): Unit = inner.deleteMany(names)
  override def sweepDebris(olderThanMs: Long, nowMs: Long): Seq[String] =
    inner.sweepDebris(olderThanMs, nowMs)
  override def getLines(name: String): Vector[String] = inner.getLines(name)
  override def linesIterator(name: String): Iterator[String] = {
    linesIterators.incrementAndGet()
    inner.linesIterator(name)
  }
  override def newSpool(hint: String): Path = inner.newSpool(hint)
  override def putFromFile(name: String, local: Path): Unit = {
    putsFromFile.incrementAndGet()
    inner.putFromFile(name, local)
  }
  override def scanPaths(names: Seq[String]): Option[Seq[String]] = inner.scanPaths(names)
}

/** A scan's segments are packed into a few ordered partitions
  * ([[SegmentTasks.pack]]), and each task reads its list as one
  * [[SegmentTasks.chain]] that opens the next segments ahead on the GET
  * path. The same reader serves the DSv2 scan, `readAfter` and the
  * compaction merge. */
class SegmentChainSpec extends SparkSpec {

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  private def withServer[T](f: S3LiteServer => T): T = {
    val srv = new S3LiteServer()
    try f(srv) finally srv.stop()
  }

  private def reads(log: StreamLog): Seq[SegmentRead] =
    SegmentTasks.plan(StreamStores.segmentStore(log.root, log.name), log.segments)

  private def causes(e: Throwable): List[Throwable] =
    if (e == null) Nil else e :: causes(e.getCause)

  test("a 100-segment scan plans at most defaultParallelism partitions and reads what consume reads, in order, on every root kind") {
    withServer { srv =>
      Seq(
        s"mem:chain-${UUID.randomUUID()}",
        Files.createTempDirectory("graft-chain").toString,
        s"hadoop:file://${Files.createTempDirectory("graft-chain-h")}",
        s"s3:${srv.endpoint}/b"
      ).foreach { root =>
        val c = clock(9900000)
        val log = new StreamLog(spark, root, "s1")
        (1 to 100).foreach(b => log.publish((1 to 3).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
        val all = log.consume(Offset.Beginning, 1000)
        assert(all.size == 300)
        val parts = new graft.sources.StreamLogScan(root, "s1", Offset.Beginning)
          .planInputPartitions().map(_.asInstanceOf[graft.sources.StreamLogPartition])
        assert(parts.length <= spark.sparkContext.defaultParallelism, s"$root: ${parts.length} partitions")
        assert(parts.toSeq.flatMap(_.reads.map(_.seg)) == log.segments.map(_.name), root)
        // partitions in offset order, each chained in order: collect()
        // returns the rows in offset order with no sort
        val rows = spark.read.format("streamlog").option("path", root)
          .option("stream", "s1").load().collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(rows == all, root)
        val (after, shape) = JobShape.of(spark)(log.readAfter().collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq)
        assert(after == all, root)
        assert(shape.tasks <= spark.sparkContext.defaultParallelism, s"$root: $shape")
        log.destroy()
      }
    }
  }

  test("a corrupted middle segment of a packed partition fails the read; a reader that stops before it succeeds") {
    val root = s"mem:chain-${UUID.randomUUID()}"
    val c = clock(9910000)
    val log = new StreamLog(spark, root, "s1")
    (1 to 20).foreach(b => log.publish((1 to 4).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    val parts = new graft.sources.StreamLogScan(root, "s1", Offset.Beginning)
      .planInputPartitions().map(_.asInstanceOf[graft.sources.StreamLogPartition])
    val first = parts.head.reads
    assert(first.size >= 3, s"the first partition packs ${first.size} segments")
    // flip one byte of a record in the partition's middle segment
    val store = StreamStores.segmentStore(root, "s1")
    val mid = first(first.size / 2).seg
    val bytes = store.get(mid)
    bytes(Offset.Width + 2) = (bytes(Offset.Width + 2) ^ 0x01).toByte
    store.put(mid, bytes)

    val ex = intercept[Exception](spark.read.format("streamlog").option("path", root)
      .option("stream", "s1").load().collect())
    assert(causes(ex).exists(_.isInstanceOf[CorruptSegmentException]) ||
      ex.toString.contains("failed integrity verification"), ex.toString)
    intercept[CorruptSegmentException](
      SegmentTasks.chain(root, "s1", first, None, None).foreach(_ => ()))
    // the chain opened the corrupt segment ahead, but a reader that stops
    // before it never reaches its check
    val before = first.indexWhere(_.seg == mid) * 4
    assert(SegmentTasks.chain(root, "s1", first, None, None).take(before).size == before)
  }

  test("on s3: at a 200 ms round trip, a partition of 5 segments drains in under 600 ms; read one after another it takes at least 1 s") {
    withServer { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(9920000)
      val log = new StreamLog(spark, root, "s1")
      (1 to 5).foreach(b => log.publish((1 to 3).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
      val rs = reads(log)
      assert(rs.size == 5)
      srv.responseDelayMs = 200
      def timed(body: => Int): (Int, Long) = {
        val t0 = System.nanoTime()
        val n = body
        (n, (System.nanoTime() - t0) / 1000000)
      }
      val (chained, chainMs) = timed(SegmentTasks.chain(root, "s1", rs, None, None).size)
      val (serial, serialMs) = timed(
        rs.iterator.flatMap(r => SegmentTasks.lines(root, "s1", r, None, None)).size)
      srv.responseDelayMs = 0
      assert(chained == 15 && serial == 15)
      assert(chainMs < 600, s"the chain took $chainMs ms")
      assert(serialMs >= 1000, s"the serial read took $serialMs ms")
      log.destroy()
    }
  }

  test("a chain abandoned after its first segment issues no more range GETs than its readahead window") {
    withServer { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(9930000)
      val log = new StreamLog(spark, root, "s1")
      (1 to 10).foreach(_ => log.publish((1 to 4).map(_ => """{"x":"aaaa"}"""), nowMs = c))
      val rs = reads(log)
      assert(rs.map(_.bytes).distinct.size == 1, "segments of equal size")
      // a budget of three segments: the one being read and two ahead
      val window = 3
      val g0 = srv.rangeGets
      val it = SegmentTasks.chain(root, "s1", rs, None, None, budget = window * rs.head.bytes)
      assert(it.take(4).size == 4)
      val deadline = System.currentTimeMillis() + 5000
      while (srv.rangeGets - g0 < window && System.currentTimeMillis() < deadline) Thread.sleep(10)
      Thread.sleep(300) // anything still in flight lands
      assert(srv.rangeGets - g0 == window, s"${srv.rangeGets - g0} range GETs")
      log.destroy()
    }
  }

  test("the merge reads and puts through the handle's explicit segment store") {
    withServer { srv =>
      Seq(s"mem:chain-${UUID.randomUUID()}", s"s3:${srv.endpoint}/b").foreach { root =>
        val counting = new CountingSegmentStore(
          if (StreamStores.isMem(root)) new InMemorySegmentStore
          else StreamStores.segmentStore(root, "s1"))
        val c = clock(9940000)
        val log = new StreamLog(spark, root, "s1", segmentStore = counting)
        (1 to 3).foreach(b => log.publish((1 to 4).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
        val before = log.consume(Offset.Beginning, 100)
        val (l0, p0) = (counting.linesIterators.get, counting.putsFromFile.get)
        val merged = log.compactOnce(nowMs = c)
        assert(merged.exists(_.records == 12L), root)
        assert(counting.linesIterators.get - l0 == 3, s"$root: ${counting.linesIterators.get - l0} segment reads")
        assert(counting.putsFromFile.get - p0 == 1, s"$root: ${counting.putsFromFile.get - p0} spooled puts")
        assert(log.consume(Offset.Beginning, 100) == before, root)
        log.destroy()
      }
    }
  }
}
