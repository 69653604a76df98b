package graft.streamlog

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec

/** [[StreamLog.poll]]'s cross-handle probe on an s3: root over the
  * conformance server's real sockets: what one arrival costs on the
  * wire, and that a probe whose snapshot predates a same-handle
  * publish never installs it.
  */
class PollProbeSpec extends SparkSpec {

  private val Meta = "s1/meta.jsonl"

  private def withServer(f: (S3LiteServer, String) => Unit): Unit = {
    val srv = new S3LiteServer()
    try f(srv, s"s3:${srv.endpoint}/b") finally srv.stop()
  }

  private def rec(i: Int) = s"""{"i":$i}"""

  test("one cross-handle arrival seen by poll costs 1 metadata GET answered 200, 0 HEADs and the segment's range GETs") {
    withServer { (srv, root) =>
      var t = 9100000L
      val c = () => { t += 1; t }
      val poller = new StreamLog(spark, root, "s1")
      val writer = new StreamLog(spark, root, "s1")
      writer.publish(Seq(rec(1)), nowMs = c)

      // the arrival is already committed when poll starts
      val (g0, m0, h0, nm0, r0) =
        (srv.gets, srv.getsOf(Meta), srv.heads, srv.notModified, srv.rangeGets)
      assert(poller.poll("-", 10, timeoutMs = 5000, intervalMs = 20).map(_._2) == Seq(rec(1)))
      val ranges = srv.rangeGets - r0
      assert(srv.getsOf(Meta) - m0 == 1 && srv.notModified == nm0,
        s"metadata GETs ${srv.getsOf(Meta) - m0}, 304s ${srv.notModified - nm0}")
      assert(srv.heads == h0, s"${srv.heads - h0} HEADs")
      assert(ranges >= 1 && srv.gets - g0 == 1 + ranges,
        s"${srv.gets - g0} GETs for 1 metadata GET and $ranges range GETs")

      // an arrival while poll waits: the idle probes before it are 304s
      val tip = poller.lastOffset.get
      val (m1, h1, nm1) = (srv.getsOf(Meta), srv.heads, srv.notModified)
      val th = new Thread(() => { Thread.sleep(150); writer.publish(Seq(rec(2)), nowMs = c); () })
      th.start()
      val got = poller.poll(tip, 10, timeoutMs = 10000, intervalMs = 20)
      th.join()
      assert(got.map(_._2) == Seq(rec(2)))
      val bodies = (srv.getsOf(Meta) - m1) - (srv.notModified - nm1)
      assert(bodies == 1, s"the arrival cost $bodies metadata GETs answered with the log")
      assert(srv.notModified - nm1 >= 1, "the idle probes before the arrival were not 304s")
      assert(srv.heads == h1)
    }
  }

  /** Forwards every member to `inner`, except that an armed
    * `readIfMoved` reads its snapshot, signals `read`, and returns it
    * only once `release` opens: a probe in flight across a publish. */
  private final class HeldProbe(inner: MetaStore) extends MetaStore {
    @volatile var armed = false
    val read = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    override def readIfMoved(tag: Long): Option[(Vector[String], Long)] = {
      val snap = inner.readWithTag()
      if (armed) {
        armed = false
        read.countDown()
        assert(release.await(30, TimeUnit.SECONDS))
      }
      Some(snap).filter(_._2 != tag)
    }
    override def readWithTag(): (Vector[String], Long) = inner.readWithTag()
    override def probeTag(): Long = inner.probeTag()
    override def appendIf(tag: Long, lines: Seq[String]): Boolean = landed(inner.appendIf(tag, lines))
    override def replaceIf(tag: Long, lines: Seq[String]): Boolean = landed(inner.replaceIf(tag, lines))
    override def clear(): Unit = inner.clear()
    private def landed(ok: Boolean): Boolean = {
      if (ok) lastCommitInfoVar = inner.lastCommitInfo
      ok
    }
  }

  test("a probe snapshot read before a same-handle publish is not installed: lastOffset and the epoch hold, the next publish lands without a GET") {
    withServer { (srv, root) =>
      var t = 9200000L
      val c = () => { t += 100; t }
      val meta = new HeldProbe(StreamStores.metaStore(root, "s1"))
      val log = new StreamLog(spark, root, "s1", metaStore = meta)
      val r1 = log.publish(Seq(rec(1)), nowMs = c).last
      // another handle moves the log, so the held probe's snapshot is new
      // to this handle, yet older than its next publish
      new StreamLog(spark, root, "s1").publish(Seq(rec(2)), nowMs = c)

      meta.armed = true
      @volatile var got = Seq.empty[(String, String)]
      val poller = new Thread(() => { got = log.poll(r1, 10, timeoutMs = 10000, intervalMs = 20) })
      poller.start()
      assert(meta.read.await(30, TimeUnit.SECONDS), "the probe never read")
      val r3 = log.publish(Seq(rec(3)), nowMs = c).last
      meta.release.countDown()
      poller.join(30000)
      assert(got.map(_._2) == Seq(rec(2), rec(3)))
      assert(log.lastOffset.contains(r3), s"lastOffset regressed to ${log.lastOffset} from $r3")

      // a clock behind r3: the next offset comes from the handle's epoch
      // alone, so a regressed epoch would order it before r3
      val m0 = srv.getsOf(Meta)
      val r4 = log.publish(Seq(rec(4)), nowMs = () => 9200000L).head
      assert(r4 > r3, s"epoch regressed: $r4 is not after $r3")
      assert(srv.getsOf(Meta) == m0,
        s"the next publish paid ${srv.getsOf(Meta) - m0} metadata GETs: its first attempt lost")
      assert(new StreamLog(spark, root, "s1").consume("-", 10).map(_._2) == (1 to 4).map(rec))
    }
  }
}
