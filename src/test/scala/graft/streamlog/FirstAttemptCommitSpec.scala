package graft.streamlog

import graft.SparkSpec

/** A [[StreamLog]] handle commits its metadata append first at the tag
  * its own state replays, without reading the log, and re-reads only
  * when that conditional PUT loses. These specs drive the s3: root over
  * the conformance server's real sockets and pin what that first
  * attempt costs and what it must never get wrong: its wire price,
  * a lost race against a second handle, fencing, and a PUT whose
  * response never arrives.
  */
class FirstAttemptCommitSpec extends SparkSpec {

  private def withServer(f: (S3LiteServer, String) => Unit): Unit = {
    val srv = new S3LiteServer()
    try f(srv, s"s3:${srv.endpoint}/b") finally srv.stop()
  }

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  private def rec(i: Int) = s"""{"i":$i}"""

  /** Forwards every member to `inner`; `dropNextAppend` makes the
    * server apply the next conditional append's PUT but drop its
    * response (the ambiguous outcome), leaving the segment PUT before
    * it untouched. */
  private final class DropNextAppend(inner: MetaStore, srv: S3LiteServer)
      extends MetaStore {
    @volatile var dropNextAppend = false
    override def readWithTag(): (Vector[String], Long) = inner.readWithTag()
    override def probeTag(): Long = inner.probeTag()
    override def appendIf(tag: Long, lines: Seq[String]): Boolean = {
      if (dropNextAppend) { dropNextAppend = false; srv.dropResponses = 1 }
      landed(inner.appendIf(tag, lines))
    }
    override def replaceIf(tag: Long, lines: Seq[String]): Boolean =
      landed(inner.replaceIf(tag, lines))
    override def clear(): Unit = inner.clear()
    private def landed(ok: Boolean): Boolean = {
      if (ok) lastCommitInfoVar = inner.lastCommitInfo
      ok
    }
  }

  test("N same-handle publishes cost 0 metadata GETs and 2N PUTs, on a new log and on an existing one") {
    withServer { (srv, root) =>
      val c = clock(8100000)
      val log = new StreamLog(spark, root, "s1")
      val (g0, p0, h0) = (srv.gets, srv.puts, srv.heads)
      (1 to 5).foreach(i => log.publish(Seq(rec(i)), nowMs = c))
      assert(srv.gets - g0 == 0, s"publishes paid ${srv.gets - g0} GETs")
      assert(srv.puts - p0 == 10, s"5 publishes paid ${srv.puts - p0} PUTs")
      assert(srv.heads == h0)
      // a handle opened on the existing log: its constructor's replay
      // is the only read, every publish after it is 2 PUTs
      val reopened = new StreamLog(spark, root, "s1")
      val (g1, p1) = (srv.gets, srv.puts)
      (6 to 9).foreach(i => reopened.publish(Seq(rec(i)), nowMs = c))
      assert(srv.gets - g1 == 0 && srv.puts - p1 == 8,
        s"reopened handle paid ${srv.gets - g1} GETs + ${srv.puts - p1} PUTs for 4 publishes")
      assert(new StreamLog(spark, root, "s1").consume(Offset.Beginning, 100)
        .map(_._2) == (1 to 9).map(rec))
    }
  }

  test("a second handle's commit costs the stale handle one lost attempt; the re-read path lands it with ordered offsets and no loss") {
    withServer { (srv, root) =>
      val c = clock(8200000)
      val a = new StreamLog(spark, root, "s1")
      val offA1 = a.publish(Seq(rec(1)), nowMs = c)
      val b = new StreamLog(spark, root, "s1")
      val offB = b.publish(Seq(rec(2)), nowMs = c)
      val (g0, p0) = (srv.gets, srv.puts)
      val offA2 = a.publish(Seq(rec(3)), nowMs = c)
      // segment PUT + the first attempt's 412 PUT + the re-read's GET and PUT
      assert(srv.gets - g0 == 1 && srv.puts - p0 == 3,
        s"contended publish paid ${srv.gets - g0} GETs + ${srv.puts - p0} PUTs")
      // the handle now knows its state is behind the log: later commits
      // skip the first attempt and pay the re-read path's price, no more
      val (g1, p1) = (srv.gets, srv.puts)
      val offA3 = a.publish(Seq(rec(4)), nowMs = c)
      assert(srv.gets - g1 == 1 && srv.puts - p1 == 2,
        s"behind handle paid ${srv.gets - g1} GETs + ${srv.puts - p1} PUTs")
      // a replay catches it up: back to 2 PUTs per publish
      a.refresh()
      val (g2, p2) = (srv.gets, srv.puts)
      val offA4 = a.publish(Seq(rec(5)), nowMs = c)
      assert(srv.gets - g2 == 0 && srv.puts - p2 == 2)
      val offs = Seq(offA1, offB, offA2, offA3, offA4).flatten
      val got = new StreamLog(spark, root, "s1").consume(Offset.Beginning, 100)
      assert(got.map(_._1) == offs, "every acknowledged offset, in publish order")
      assert(offs == offs.sorted && offs.distinct == offs)
      assert(got.map(_._2) == (1 to 5).map(rec))
    }
  }

  test("a second handle's claimWriter between publishes fences the next publish and leaves the log byte-identical") {
    withServer { (srv, root) =>
      val c = clock(8300000)
      val a = new StreamLog(spark, root, "s1")
      assert(a.claimWriter() == 1L)
      a.publish(Seq(rec(1)), nowMs = c)
      val (g0, p0) = (srv.gets, srv.puts)
      a.publish(Seq(rec(2)), nowMs = c)
      assert(srv.gets - g0 == 0 && srv.puts - p0 == 2,
        "a claimed handle's publish rides the first attempt too")
      assert(new StreamLog(spark, root, "s1").claimWriter() == 2L)
      val meta = StreamStores.metaStore(root, "s1")
      val before = meta.readWithTag()
      val e = intercept[WriterFencedException](a.publish(Seq(rec(3)), nowMs = c))
      assert(e.provided == 1L && e.current == 2L)
      assert(meta.readWithTag() == before, "the fenced publish committed nothing")
      // replayed up to the newer claim, the handle's tag is current: only
      // the fence check keeps its first attempt from landing
      a.refresh()
      intercept[WriterFencedException](a.publish(Seq(rec(4)), nowMs = c))
      assert(meta.readWithTag() == before, "the replayed handle committed nothing")
      assert(new StreamLog(spark, root, "s1").consume(Offset.Beginning, 100)
        .map(_._2) == Seq(rec(1), rec(2)))
    }
  }

  test("a fenced publish or merge leaves the handle's state where a fresh handle's is: consume and lastOffset skip the refused records") {
    withServer { (_, root) =>
      val c = clock(8350000)
      val a = new StreamLog(spark, root, "s1")
      (1 to 2).foreach(i => a.publish(Seq(rec(i)), nowMs = c))
      new StreamLog(spark, root, "s1").claimWriter()
      intercept[WriterFencedException](a.publish(Seq(rec(3)), nowMs = c))
      // a producer-version bump is refused the same way
      intercept[WriterFencedException](a.publish(Seq(rec(4)), version = Some(5L), nowMs = c))
      // and so is a merge, whose distributed job ran before the refused commit
      intercept[WriterFencedException](a.compactOnce(nowMs = c))
      val fresh = new StreamLog(spark, root, "s1")
      assert(a.consume(Offset.Beginning, 100) == fresh.consume(Offset.Beginning, 100))
      assert(a.consume(Offset.Beginning, 100).map(_._2) == Seq(rec(1), rec(2)))
      assert(a.lastOffset == fresh.lastOffset)
      assert(a.segments == fresh.segments && a.segments.size == 2)
      assert(a.tombstoneNames.isEmpty && fresh.tombstoneNames.isEmpty)
      assert(a.producerVersion == fresh.producerVersion && a.producerVersion == 0L)
    }
  }

  test("a first-attempt PUT whose response is dropped lands once more through the re-read and reads back exactly once") {
    WireFaultSerial.synchronized {
      withServer { (srv, root) =>
        val c = clock(8400000)
        val meta = new DropNextAppend(StreamStores.metaStore(root, "s1"), srv)
        val log = new StreamLog(spark, root, "s1", metaStore = meta)
        log.publish(Seq(rec(1)), nowMs = c)
        meta.dropNextAppend = true
        val off = log.publish(Seq(rec(2)), nowMs = c)
        assert(srv.dropResponses == 0, "the drop must have hit the metadata PUT")
        val seg = log.segments.last.name
        assert(meta.readWithTag()._1.count(_.contains(seg)) == 2,
          "the landed first attempt and the re-read's append are both in the log")
        log.publish(Seq(rec(3)), nowMs = c)
        val fresh = new StreamLog(spark, root, "s1")
        assert(fresh.segments.count(_.name == seg) == 1)
        val got = fresh.consume(Offset.Beginning, 100)
        assert(got.map(_._2) == Seq(rec(1), rec(2), rec(3)))
        assert(got.map(_._1).contains(off.head))
      }
    }
  }
}
