package graft.streamlog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Mirrors the reference's worker tests (/root/reference/tests/index.test.ts):
  * produce, consume from "-" with limit, consume from offset, long-poll
  * delivery + timeout, merge order/completeness, producer-version fencing,
  * destroy + name reuse — plus tombstone cleanup, orphan purging, and
  * crash rebuild (stream_manager.ts:590-676,138-179). */
class StreamLogSpec extends SparkSpec {

  private def freshLog(): StreamLog = {
    val root = Files.createTempDirectory("graft-streamlog").toString
    new StreamLog(spark, root, "s1")
  }

  // deterministic clock: strictly needed so repeated publishes in the same
  // millisecond still exercise distinct epochs via the regression guard
  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  test("rebuildFromSegments after compaction keeps the merged segment, not the leftovers") {
    val log = freshLog()
    val c = clock(9000000)
    val all = (1 to 3).flatMap(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    log.compactOnce(nowMs = c) // originals stay on disk as tombstoned files
    log.rebuildFromSegments(nowMs = c) // meta lost; disk has merged + originals
    // the widest-first sweep must keep only the merged segment: no
    // duplicate records, full coverage, non-overlapping index
    val got = log.consume(Offset.Beginning, 1000).map(_._1)
    assert(got == all, s"expected ${all.size} unique records, got ${got.size}")
    log.segments.sliding(2).foreach {
      case Seq(a, b) => assert(a.lastOffset < b.firstOffset)
      case _ =>
    }
    // leftover originals are unreferenced now -> purged as orphans
    assert(log.purgeOrphans(graceMs = 0).nonEmpty)
    assert(log.consume(Offset.Beginning, 1000).map(_._1) == all)
  }

  test("publish rejects records containing newlines") {
    val log = freshLog()
    intercept[IllegalArgumentException] { log.publish(Seq("{\"a\":\"x\ny\"}")) }
  }

  test("produce assigns in-order offsets within one epoch") {
    val log = freshLog()
    val offs = log.publish((1 to 8).map(i => s"""{"value":$i}"""), nowMs = clock(1000000))
    assert(offs.length == 8)
    assert(offs == offs.sorted)
    val (e, c0) = Offset.parse(offs.head)
    assert(c0 == 0)
    assert(offs.map(o => Offset.parse(o)._2) == (0L to 7L))
    assert(Offset.parse(offs.last)._1 == e) // one flush = one epoch
  }

  test("epoch is monotonic under clock regression") {
    val log = freshLog()
    val o1 = log.publish(Seq("""{"a":1}"""), nowMs = () => 5000)
    val o2 = log.publish(Seq("""{"a":2}"""), nowMs = () => 4000) // clock went back
    assert(Offset.parse(o2.head)._1 == Offset.parse(o1.head)._1 + 1)
    assert(o2.head > o1.head)
  }

  test("consume from '-' respects limit and order; chaining crosses segments") {
    val log = freshLog()
    val c = clock(2000000)
    val all = (1 to 3).flatMap(b => log.publish((1 to 4).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    assert(log.segments.length == 3)

    val first5 = log.consume(Offset.Beginning, limit = 5)
    assert(first5.map(_._1) == all.take(5)) // crossed the first segment boundary
    val everything = log.consume(Offset.Beginning, limit = 100)
    assert(everything.map(_._1) == all)
  }

  test("consume from an offset is exclusive-start") {
    val log = freshLog()
    val offs = log.publish((1 to 10).map(i => s"""{"i":$i}"""), nowMs = clock(3000000))
    val rest = log.consume(offs(4), limit = 100)
    assert(rest.map(_._1) == offs.drop(5))
    assert(rest.head._2 == """{"i":6}""")
    assert(log.consume(offs.last, 10).isEmpty)
  }

  test("readAfter (Spark scan) matches driver consume and prunes segments") {
    val log = freshLog()
    val c = clock(4000000)
    val all = (1 to 4).flatMap(_ => log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
    val mid = all(12)
    val rows = log.readAfter(mid).orderBy("offset").collect()
    assert(rows.map(_.getString(0)).toSeq == all.drop(13))
    // pruning: only segments with lastOffset > mid are eligible
    val consumed = log.consume(mid, 100)
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == consumed)
    // 3 segments under 4 cores: Spark's file-scan packing gives each its
    // own task, all in one stage: no exchange to spread them
    val (_, shape) = JobShape.of(spark)(log.readAfter(all(4)).collect())
    assert((shape.stages, shape.tasks) == (1, 3), shape)
  }

  test("time-travel read returns everything flushed at/after T") {
    val log = freshLog()
    log.publish(Seq("""{"old":1}"""), nowMs = () => 10000)
    val newer = log.publish(Seq("""{"new":1}""", """{"new":2}"""), nowMs = () => 20000)
    val rows = log.readSince(20000).orderBy("offset").collect()
    assert(rows.map(_.getString(0)).toSeq == newer)
    assert(log.readSince(10000).count() == 3)
    assert(log.readSince(20001).count() == 0)
  }

  test("long-poll delivers on publish; times out empty on silent stream") {
    val log = freshLog()
    val t0 = System.currentTimeMillis()
    assert(log.poll(Offset.Beginning, 10, timeoutMs = 200).isEmpty)
    assert(System.currentTimeMillis() - t0 >= 200)

    val waiter = new Thread(null, () => {
      val got = log.poll(Offset.Beginning, 10, timeoutMs = 5000)
      assert(got.nonEmpty && got.head._2 == """{"x":1}""")
    }, "poller")
    waiter.start()
    Thread.sleep(100)
    log.publish(Seq("""{"x":1}"""))
    waiter.join(5000)
    assert(!waiter.isAlive)
  }

  test("long-poll wakes for an EXTERNAL writer within the probe interval, not the timeout") {
    // two handles over the same root = two processes: they share no
    // in-memory state and no flush monitor, so the consumer can only
    // learn of the producer's publish through the metadata-tag probe
    val root = Files.createTempDirectory("graft-streamlog").toString
    val consumer = new StreamLog(spark, root, "s1")
    val producer = new StreamLog(spark, root, "s1")
    val t = new Thread(null, () => {
      Thread.sleep(150)
      producer.publish(Seq("""{"ext":1}"""))
      ()
    }, "external-writer")
    val t0 = System.currentTimeMillis()
    t.start()
    val got = consumer.poll(Offset.Beginning, 10, timeoutMs = 30000, intervalMs = 25)
    t.join()
    val elapsed = System.currentTimeMillis() - t0
    assert(got.map(_._2) == Seq("""{"ext":1}"""))
    assert(elapsed < 15000, s"poll should wake within the probe cadence, took ${elapsed}ms")
    // stale-handle entry probe: a THIRD handle created before a further
    // publish sees it on poll entry without an explicit refresh()
    val late = new StreamLog(spark, root, "s1")
    producer.refresh()
    val off2 = producer.publish(Seq("""{"ext":2}""")).head
    val got2 = late.poll(got.head._1, 10, timeoutMs = 30000, intervalMs = 25)
    assert(got2.map(_._1) == Seq(off2))
  }

  test("producer-version fencing: stale rejected, higher bumps, equal ok, absent ok") {
    val log = freshLog()
    log.publish(Seq("""{"v":1}"""), version = Some(5))
    assert(log.producerVersion == 5)
    intercept[FencedException] { log.publish(Seq("""{"v":2}"""), version = Some(4)) }
    log.publish(Seq("""{"v":3}"""), version = Some(5)) // equal is fine
    log.publish(Seq("""{"v":4}""")) // no version is fine
    log.publish(Seq.empty, version = Some(9)) // pure bump, no records
    assert(log.producerVersion == 9)
    assert(log.consume(Offset.Beginning, 100).length == 3)
    intercept[FencedException] { log.publish(Seq("""{"v":5}"""), version = Some(8)) }
  }

  test("writer-epoch fencing: a stale handle's commits refuse after a newer claim") {
    val root = Files.createTempDirectory("graft-streamlog").toString
    val a = new StreamLog(spark, root, "s1")
    val c = clock(7000000)
    a.publish(Seq("""{"w":0}"""), nowMs = c) // unfenced era: epoch 0 everywhere

    val ea = a.claimWriter()
    assert(ea == 1 && a.claimedWriterEpoch == 1)
    a.publish(Seq("""{"w":1}"""), nowMs = c) // current writer commits fine

    // a second handle (second driver in the 100 TB story) supersedes A
    val b = new StreamLog(spark, root, "s1")
    val eb = b.claimWriter()
    assert(eb == 2)

    // A's publish flush now refuses at the commit layer...
    val f1 = intercept[WriterFencedException] { a.publish(Seq("""{"w":2}"""), nowMs = c) }
    assert(f1.provided == 1 && f1.current == 2)
    // ...and so does A's maintenance apply: give A enough segments that
    // the planner has a window, then watch the APPLY refuse (the
    // distributed merge may run; the metadata commit cannot land)
    b.publish((1 to 4).map(i => s"""{"b":$i}"""), nowMs = c)
    b.publish((1 to 4).map(i => s"""{"b2":$i}"""), nowMs = c)
    a.refresh() // A sees B's segments but NOT writership (claim ≠ load)
    assert(a.writerEpoch == 2 && a.claimedWriterEpoch == 1)
    intercept[WriterFencedException] { a.compactOnce(nowMs = c) }

    // B (the live writer) is unaffected, loses nothing, and can compact
    val before = b.consume(Offset.Beginning, 1000)
    assert(b.compactOnce(nowMs = c).isDefined)
    assert(b.consume(Offset.Beginning, 1000) == before)

    // A re-claims (operator decided B is dead) and works again; B fenced
    assert(a.claimWriter() == 3)
    a.refresh()
    a.publish(Seq("""{"w":3}"""), nowMs = c)
    intercept[WriterFencedException] { b.publish(Seq("""{"x":1}"""), nowMs = c) }

    // an unclaimed third handle is fenced too (epoch 0 < 3): once a
    // stream is under claimed management, contract-only writers refuse
    val u = new StreamLog(spark, root, "s1")
    intercept[WriterFencedException] { u.publish(Seq("""{"u":1}"""), nowMs = c) }
  }

  test("writer-epoch fencing: DSv2 bulk commit refuses a stale token, accepts the live one") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-streamlog").toString
    val log = new StreamLog(spark, root, "s1")
    log.publish((1 to 3).map(i => s"""{"seed":$i}"""), nowMs = clock(4000000))
    val e1 = log.claimWriter()

    def bulk(epochOpt: Option[Long], base: Long): Unit = {
      import spark.implicits._
      val df = (0 until 5).map(i =>
        (Offset.serialize(base, i.toLong), s"""{"bulk":$i}""")).toDF("offset", "data")
      val w = df.write.format("graft.sources.StreamLogSource")
        .option("path", root).option("stream", "s1").mode("append")
      epochOpt.fold(w)(e => w.option("writerEpoch", e.toString)).save()
    }

    // live token commits; records land
    bulk(Some(e1), base = 5000000)
    log.refresh()
    assert(log.consume(Offset.Beginning, 100).count(_._2.contains("bulk")) == 5)

    // stale token (and the no-token legacy writer) refuse
    new StreamLog(spark, root, "s1").claimWriter() // someone newer
    val f = intercept[Exception] { bulk(Some(e1), base = 6000000) }
    assert(exceptionChain(f).exists(_.isInstanceOf[WriterFencedException]))
    val f2 = intercept[Exception] { bulk(None, base = 7000000) }
    assert(exceptionChain(f2).exists(_.isInstanceOf[WriterFencedException]))
    log.refresh()
    assert(log.consume(Offset.Beginning, 100).count(_._2.contains("bulk")) == 5)
  }

  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("concurrent claimWriter race: distinct ordered epochs, exactly one live winner") {
    val root = Files.createTempDirectory("graft-claimrace").toString
    val n = 16
    val handles = (1 to n).map(_ => new StreamLog(spark, root, "s1"))
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = handles.map { h =>
      new Thread(() => { epochs.add(h.claimWriter()) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    val got = epochs.asScala.toSeq.sorted
    // the commit lock serializes claims: epochs are exactly 1..n with
    // no duplicates and no gaps, regardless of interleaving
    assert(got == (1L to n.toLong), s"epochs: $got")
    // exactly one handle survives as the live writer (the one that
    // claimed last); every other claim is superseded
    val live = handles.filter(h => try { h.publish(Seq("""{"ok":1}""")); true }
      catch { case _: WriterFencedException => false })
    assert(live.size == 1, s"${live.size} handles think they are live")
    assert(live.head.claimedWriterEpoch == n.toLong)
  }

  test("fence backoff: a superseded daemon stops burning merge jobs; re-claim resumes maintenance") {
    val root = Files.createTempDirectory("graft-fencebackoff").toString
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val reports = new java.util.concurrent.atomic.AtomicInteger(0)
    val fleet = StreamLogs.startMaintenance(spark, root, intervalMs = 100,
      onReport = (_, _) => reports.incrementAndGet(),
      onError = (_, e) => { assert(e.isInstanceOf[WriterFencedException]); errors.incrementAndGet() })
    try {
      val a = fleet.open("s1")
      a.claimWriter()
      val c = clock(8000000)
      // a newer writer supersedes A and leaves compactable segments
      val b = new StreamLog(spark, root, "s1")
      b.claimWriter()
      (1 to 3).foreach(k => b.publish((1 to 4).map(i => s"""{"b":$k,"i":$i}"""), nowMs = c))
      a.refresh() // A sees the segments; its claim stays stale

      val deadline = System.currentTimeMillis() + 30000
      // wait for BOTH the fence record and its error report: the
      // sweeper records fencedAt BEFORE calling onError, so observing
      // fencedStreams alone can race the increment by a few
      // microseconds (flaked once under a loaded closing run)
      while ((fleet.fencedStreams.isEmpty || errors.get() < 1) &&
        System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(fleet.fencedStreams == Set("s1"), "daemon never recorded the fence")
      assert(errors.get() >= 1)

      // backoff: once fenced, no further attempts → the error count
      // freezes. The grace sleep lets any IN-FLIGHT pass (one that
      // started before the fence was recorded) finish and report: under
      // a loaded machine such a pass can take well over an interval
      // (this flaked once at 200 ms while a full bench saturated the
      // box), so the grace is generous — the assertion is about the
      // freeze AFTER it, which is load-independent.
      Thread.sleep(1500)
      val frozen = errors.get()
      Thread.sleep(600) // ~6 sweep intervals
      assert(errors.get() == frozen,
        s"daemon kept attempting while fenced: $frozen -> ${errors.get()}")

      // re-claim through the DAEMON'S handle: backoff clears, passes run
      a.claimWriter()
      val before = reports.get()
      val d2 = System.currentTimeMillis() + 30000
      while ((fleet.fencedStreams.nonEmpty || reports.get() == before) &&
        System.currentTimeMillis() < d2) Thread.sleep(50)
      assert(fleet.fencedStreams.isEmpty, "re-claim did not clear the backoff")
      assert(reports.get() > before, "maintenance did not resume after re-claim")
    } finally fleet.close()
  }

  test("two-coordinator soak: a superseded fleet daemon only hits fences; the live one maintains; zero records lost") {
    val root = Files.createTempDirectory("graft-fleet2").toString
    val names = (1 to 5).map(i => s"s$i")
    val errorsA = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
    val compactedB = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    // coordinator A: claims writership of the fleet, publishes the
    // first era (3 segments per stream), maintains on a fast interval
    val fleetA = StreamLogs.startMaintenance(spark, root, intervalMs = 100,
      onError = (n, e) => errorsA.add((n, e)))
    val expected = scala.collection.mutable.Map[String, Seq[String]]()
    try {
      names.foreach { n =>
        val h = fleetA.open(n)
        h.claimWriter()
        expected(n) = (1 to 3).flatMap(b =>
          h.publish((1 to 3).map(i => s"""{"era":"a","b":$b,"i":$i}""")))
      }

      // coordinator B: a second driver takes over the same root —
      // newer epoch per stream, publishes era 2
      val fleetB = StreamLogs.startMaintenance(spark, root, intervalMs = 100,
        onReport = (n, r) => if (r.compacted.nonEmpty) compactedB.add(n))
      try {
        val epochsB = fleetB.claimWriters() // one-call driver takeover
        assert(epochsB.keySet == names.toSet && epochsB.values.forall(_ >= 2))
        names.foreach { n =>
          val h = fleetB.open(n)
          expected(n) = expected(n) ++ (1 to 2).flatMap(b =>
            h.publish((1 to 3).map(i => s"""{"era":"b","b":$b,"i":$i}""")))
        }

        // wait until A has hit writer fences and B has compacted
        val deadline = System.currentTimeMillis() + 30000
        def fencedA = errorsA.asScala.exists(_._2.isInstanceOf[WriterFencedException])
        while ((!fencedA || compactedB.isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(fencedA,
          s"superseded coordinator never fenced; errors=${errorsA.asScala.map(_._2.getClass.getSimpleName).toSeq}")
        assert(compactedB.asScala.nonEmpty, "live coordinator never compacted")
        // A's failures are ONLY fences — not corruption, not crashes
        errorsA.asScala.foreach { case (n, e) =>
          assert(e.isInstanceOf[WriterFencedException], s"$n threw $e")
        }
        // A's own publish handle is fenced too
        intercept[WriterFencedException] {
          fleetA.open(names.head).publish(Seq("""{"era":"a-late"}"""))
        }
      } finally fleetB.close()
    } finally fleetA.close()

    // zero lost records: every era-a and era-b record is readable, in
    // offset order, from fresh handles after both daemons stop
    names.foreach { n =>
      val fresh = new StreamLog(spark, root, n)
      val got = fresh.consume(Offset.Beginning, 1000)
      assert(got.map(_._1) == expected(n),
        s"$n: expected ${expected(n).size} records, got ${got.size}")
    }
  }

  test("compaction merges a window into one segment preserving order + completeness") {
    val log = freshLog()
    val c = clock(5000000)
    val all = (1 to 5).flatMap(b => log.publish((1 to 6).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    assert(log.segments.length == 5)
    val merged = log.compactOnce(nowMs = c)
    assert(merged.isDefined)
    assert(log.segments.length == 1)
    assert(merged.get.firstOffset == all.head && merged.get.lastOffset == all.last)
    assert(merged.get.records == 30)
    val after = log.consume(Offset.Beginning, 1000)
    assert(after.map(_._1) == all) // identical stream content post-merge
    assert(log.tombstoneNames.size == 5)
  }

  test("compaction respects planner limits (large segment excluded)") {
    val log = freshLog()
    val c = clock(6000000)
    log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c)
    log.publish((1 to 3).map(i => s"""{"j":$i}"""), nowMs = c)
    log.publish((1 to 50).map(i => s"""{"k":$i}"""), nowMs = c)
    val merged = log.compactOnce(Compaction.Limits(maxRecords = 10), nowMs = c)
    assert(merged.isDefined && merged.get.records == 6) // big third segment left alone
    assert(log.segments.length == 2)
  }

  test("tombstones are cleaned only after max age") {
    val log = freshLog()
    val c = clock(7000000)
    log.publish(Seq("""{"a":1}"""), nowMs = c)
    log.publish(Seq("""{"a":2}"""), nowMs = c)
    log.compactOnce(nowMs = c)
    assert(log.tombstoneNames.size == 2)
    assert(log.cleanTombstones(maxAgeMs = 86400000L, nowMs = c).isEmpty) // too young
    val cleaned = log.cleanTombstones(maxAgeMs = 0, nowMs = () => 7100000)
    assert(cleaned.size == 2 && log.tombstoneNames.isEmpty)
    assert(log.consume(Offset.Beginning, 10).length == 2) // merged data intact
  }

  test("orphan purging removes unreferenced files only, after the grace period") {
    val log = freshLog()
    log.publish(Seq("""{"a":1}"""))
    val orphan = log.segmentDir.resolve("9999-deadbeef.seg")
    Files.write(orphan, "junk\n".getBytes)
    // fresh file + default grace: protected (could be an in-flight bulk load)
    assert(log.purgeOrphans().isEmpty)
    assert(Files.exists(orphan))
    val purged = log.purgeOrphans(graceMs = 0)
    assert(purged == Seq("9999-deadbeef.seg"))
    assert(!Files.exists(orphan))
    assert(log.consume(Offset.Beginning, 10).length == 1)
  }

  test("purgeOrphans refreshes metadata first: externally committed segments survive") {
    val root = Files.createTempDirectory("graft-streamlog").toString
    val log = new StreamLog(spark, root, "s1")
    log.publish(Seq("""{"a":1}"""))
    // an "external writer" (second handle, same layout) commits a segment;
    // `log`'s in-memory index has never seen it
    val writer = new StreamLog(spark, root, "s1")
    writer.publish(Seq("""{"b":1}"""), nowMs = () => System.currentTimeMillis() + 10)
    assert(log.purgeOrphans(graceMs = 0).isEmpty) // load() sees the commit
    assert(log.consume(Offset.Beginning, 10).length == 2)
  }

  test("compactAll merges every window of a pass in one job, preserving content") {
    val log = freshLog()
    val c = clock(9400000)
    val all = (1 to 25).flatMap(_ => log.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
    val merged = log.compactAll(nowMs = c)
    assert(merged.map(_.records) == Seq(20L, 20L, 10L)) // 10+10+5 segments
    assert(log.segments.length == 3)
    assert(log.consume(Offset.Beginning, 1000).map(_._1) == all)
    // metadata log round-trips the batch commit
    val reopened = new StreamLog(spark, log.streamDir.getParent.toString, log.name)
    assert(reopened.segments.map(_.name) == log.segments.map(_.name))
    assert(reopened.tombstoneNames.size == 25)
  }

  test("compactAll caps plan width; maintain still drains a wide backlog") {
    val log = freshLog()
    val c = clock(9450000)
    // 20 two-record segments at MaxSegments=2 -> a 10-window backlog;
    // capped at 3 windows/job, one compactAll pass must merge exactly 3
    val all = (1 to 20).flatMap(_ => log.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
    val limits = Compaction.Limits(maxSegments = 2)
    val merged = log.compactAll(limits, nowMs = c, maxWindowsPerJob = 3)
    assert(merged.size == 3)
    assert(log.segments.length == 20 - 3) // 6 originals -> 3 merged
    // the maintain loop re-plans after each capped pass and drains fully
    val report = log.maintain(limits, tombstoneMaxAgeMs = Long.MaxValue,
      orphanGraceMs = Long.MaxValue, nowMs = c)
    assert(report.compacted.nonEmpty)
    assert(Compaction.windows(log.segments, limits).isEmpty)
    assert(log.consume(Offset.Beginning, 1000).map(_._1) == all)
  }

  test("maintain compacts until the planner is empty, then cleans up") {
    val log = freshLog()
    val c = clock(9500000)
    // 25 small segments: one compactOnce merges 10; maintain must keep
    // going until every window is exhausted (mirrors the reference's
    // alarm-loop merge test, tests/index.test.ts:181)
    val all = (1 to 25).flatMap(_ => log.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
    val report = log.maintain(
      tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = () => 9600000)
    assert(report.compacted.size >= 3) // 25 -> 3 windows of 10/10/5 -> ...
    assert(log.segments.length < 25)
    assert(log.tombstoneNames.isEmpty) // tombstones aged out (maxAge 0)
    assert(report.tombstonesPurged.nonEmpty)
    assert(log.consume(Offset.Beginning, 1000).map(_._1) == all)
    // steady state: a second pass finds nothing to do
    val again = log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = () => 9700000)
    assert(again.compacted.isEmpty && again.tombstonesPurged.isEmpty && again.orphansPurged.isEmpty)
  }

  test("startMaintenance compacts on an interval until closed; errors don't kill the loop") {
    val log = freshLog()
    val c = clock(9750000)
    (1 to 25).foreach(_ => log.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
    assert(log.segments.length == 25)
    val reports = new java.util.concurrent.CopyOnWriteArrayList[StreamLog.MaintenanceReport]()
    val handle = log.startMaintenance(intervalMs = 20,
      tombstoneMaxAgeMs = Long.MaxValue, orphanGraceMs = Long.MaxValue,
      onReport = reports.add(_))
    try {
      // wait for a COMPLETED pass (segment count alone can be observed
      // mid-pass, before the report lands)
      val deadline = System.currentTimeMillis() + 30000
      while ((reports.isEmpty || log.segments.length > 3) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(log.segments.length <= 3,
        s"maintenance never compacted: ${log.segments.length} segments")
      assert(!reports.isEmpty)
    } finally handle.close()
    // after close, no further passes run
    val after = reports.size()
    Thread.sleep(120)
    assert(reports.size() == after)
    assert(log.consume(Offset.Beginning, 1000).size == 50)
  }

  test("concurrent publish during maintenance loses no records (state lock)") {
    val log = freshLog()
    val c = clock(9790000)
    (1 to 10).foreach(_ => log.publish(Seq("""{"seed":1}"""), nowMs = c))
    // daemon compaction churns the index while the owner keeps
    // publishing: without the state lock the compaction apply overwrote
    // concurrently added segments (index read-modify-write race)
    val handle = log.startMaintenance(intervalMs = 5,
      tombstoneMaxAgeMs = Long.MaxValue, orphanGraceMs = Long.MaxValue)
    val published = try {
      (1 to 60).map { i =>
        Thread.sleep(5)
        log.publish(Seq(s"""{"i":$i}"""), nowMs = c).head
      }
    } finally handle.close()
    val got = log.consume(Offset.Beginning, 10000).map(_._1)
    assert(got.size == got.distinct.size, "duplicated records")
    assert(got.size == 70, s"expected 70 records, got ${got.size}")
    val missing = published.filterNot(got.contains)
    assert(missing.isEmpty, s"lost ${missing.size} published records: $missing")
    log.segments.sliding(2).foreach {
      case Seq(a, b) => assert(a.lastOffset < b.firstOffset, "overlapping index")
      case _ =>
    }
    log.destroy()
  }

  test("StreamLogs catalogs every stream under a root") {
    val root = Files.createTempDirectory("graft-fleet").toString
    val c = clock(9770000)
    val a = new StreamLog(spark, root, "alpha")
    val b = new StreamLog(spark, root, "beta")
    a.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c)
    b.publish((1 to 5).map(i => s"""{"i":$i}"""), version = Some(4), nowMs = c)
    // a non-stream directory under the root must not be listed
    Files.createDirectories(java.nio.file.Paths.get(root, "not-a-stream"))
    assert(StreamLogs.list(root) == Seq("alpha", "beta"))
    val d = StreamLogs.describeAll(spark, root).collect()
      .map(r => r.getAs[String]("stream") -> r.getAs[Long]("n_records")).toMap
    assert(d == Map("alpha" -> 3L, "beta" -> 5L))
    assert(StreamLogs.open(spark, root, "beta").producerVersion == 4L)
    assert(StreamLogs.list(Files.createTempDirectory("graft-empty").toString).isEmpty)
    assert(StreamLogs.describeAll(spark, root + "/absent").collect().isEmpty)
  }

  test("fleet maintenance sweeps every stream under one root, staggered, under publishes") {
    val root = Files.createTempDirectory("graft-fleet-maint").toString
    val reports = new java.util.concurrent.CopyOnWriteArrayList[(String, StreamLog.MaintenanceReport)]()
    val errors = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val fleet = StreamLogs.startMaintenance(spark, root, intervalMs = 60,
      tombstoneMaxAgeMs = Long.MaxValue, orphanGraceMs = Long.MaxValue,
      onReport = (n, r) => reports.add((n, r)),
      onError = (n, _) => errors.add(n))
    try {
      val names = Seq("a", "b", "c")
      // publisher handles come from the fleet (shared instances, so the
      // per-stream state lock covers publish-vs-compaction)
      val logs = names.map(fleet.open)
      val c = clock(9900000)
      // 25 tiny segments per stream, interleaved round-robin while the
      // daemon sweeps: three streams compact concurrently under publishes
      (1 to 25).foreach { _ =>
        logs.foreach(_.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
      }
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          !(logs.forall(_.segments.length <= 3) &&
            names.forall(n => reports.toArray.exists(_.asInstanceOf[(String, _)]._1 == n))))
        Thread.sleep(25)
      import scala.jdk.CollectionConverters._
      names.zip(logs).foreach { case (n, l) =>
        assert(l.segments.length <= 3, s"stream $n never compacted: ${l.segments.length}")
        assert(reports.asScala.exists(_._1 == n), s"no maintenance report for $n")
        // no records lost or duplicated under concurrent compaction
        val got = l.consume(Offset.Beginning, 1000).map(_._1)
        assert(got.size == 50 && got.distinct.size == 50, s"stream $n: ${got.size} records")
      }
      // a stream created AFTER the daemon started is discovered on a
      // later sweep (the reference arms an alarm per new DO; the fleet
      // daemon re-lists the root)
      val late = fleet.open("late")
      (1 to 25).foreach(_ => late.publish((1 to 2).map(i => s"""{"i":$i}"""), nowMs = c))
      val d2 = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < d2 && late.segments.length > 3)
        Thread.sleep(25)
      assert(late.segments.length <= 3, "late stream never picked up")
      assert(late.consume(Offset.Beginning, 1000).size == 50)
      // destroying a stream mid-fleet must not disturb the others: it
      // drops out of the listing and the daemon keeps sweeping
      logs.head.destroy()
      val before = reports.size()
      val d3 = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < d3 && reports.size() == before)
        Thread.sleep(25) // at least one more full sweep completes
      assert(reports.size() > before, "daemon stalled after a destroy")
      assert(logs(1).consume(Offset.Beginning, 1000).size == 50)
      assert(errors.isEmpty, s"maintenance errors on: $errors")
    } finally fleet.close()
    // after close, no further passes run anywhere in the fleet
    val after = reports.size()
    Thread.sleep(200)
    assert(reports.size() == after)
  }

  test("fleet maintenance at width: 50 streams with mid-sweep churn — no handle leak, no stall") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-fleet-width").toString
    val reports = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val errors = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val fleet = StreamLogs.startMaintenance(spark, root, intervalMs = 400,
      tombstoneMaxAgeMs = Long.MaxValue, orphanGraceMs = Long.MaxValue,
      onReport = (n, _) => reports.add(n),
      onError = (n, _) => errors.add(n))
    try {
      val c = clock(9990000)
      // the reference's deployment story is ~1000 independent DOs; 50
      // here keeps the spec fast while still 16x the 3-stream case
      val names = (0 until 50).map(i => f"w$i%02d")
      val logs = names.map(fleet.open)
      logs.foreach(_.publish(Seq("""{"i":1}"""), nowMs = c))
      // full-fleet coverage: every one of the 50 reported, wall-bounded
      val t0 = System.currentTimeMillis()
      val d1 = t0 + 60000
      while (System.currentTimeMillis() < d1 &&
          !names.forall(n => reports.contains(n)))
        Thread.sleep(20)
      val coverage = System.currentTimeMillis() - t0
      assert(names.forall(n => reports.contains(n)),
        s"only ${reports.asScala.toSet.size}/50 streams swept in 60s")
      info(s"full 50-stream sweep coverage in ${coverage} ms (intervalMs=400)")
      // churn: fresh names created, published, destroyed once SEEN by a
      // sweep (the seen-on-disk eviction path), while the fleet keeps
      // sweeping the 50
      (0 until 12).foreach { i =>
        val cn = s"churn$i"
        val h = fleet.open(cn)
        h.publish(Seq("""{"c":1}"""), nowMs = c)
        val d = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < d && !reports.contains(cn))
          Thread.sleep(20)
        assert(reports.contains(cn), s"$cn never swept")
        h.destroy()
      }
      // destroyed-and-seen handles are evicted on later sweeps: the
      // cache settles back to the 50 live streams
      val d2 = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < d2 && fleet.cachedHandles > 50)
        Thread.sleep(20)
      assert(fleet.cachedHandles <= 50,
        s"handle leak: ${fleet.cachedHandles} cached for 50 live streams")
      // fenced-then-destroyed churn (r15 third pass): a stream whose
      // maintenance FENCED is then destroyed — the fence record must be
      // evicted with the handle, or fencedStreams reports ghosts and
      // the map grows one entry per churned name forever
      val fenced = fleet.open("fencedchurn")
      fenced.claimWriter()
      fenced.publish((1 to 4).map(i => s"""{"x":$i}"""), nowMs = c)
      fenced.publish((1 to 4).map(i => s"""{"y":$i}"""), nowMs = c)
      val usurper = new StreamLog(spark, root, "fencedchurn")
      usurper.claimWriter() // supersedes the fleet's handle
      val dF = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < dF &&
          !fleet.fencedStreams.contains("fencedchurn"))
        Thread.sleep(20)
      assert(fleet.fencedStreams.contains("fencedchurn"), "never fenced")
      usurper.destroy()
      val dG = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < dG &&
          fleet.fencedStreams.contains("fencedchurn"))
        Thread.sleep(20)
      assert(!fleet.fencedStreams.contains("fencedchurn"),
        "destroyed stream's fence record leaked")
      // sub-sweep churn (create-use-destroy faster than a sweep can
      // list it): the seen-on-disk eviction can't reach these — the
      // owner releases explicitly and the cache stays bounded
      (0 until 10).foreach { i =>
        val fn = s"fast$i"
        val h = fleet.open(fn)
        h.publish(Seq("""{"f":1}"""), nowMs = c)
        h.destroy()
        fleet.release(fn)
      }
      // deadline-wait, not an instant assert: a sweep whose listing
      // caught a fast stream mid-life re-opens a handle until its own
      // destroyed-since-listing branch drops it again
      val d4 = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < d4 && fleet.cachedHandles > 50)
        Thread.sleep(20)
      assert(fleet.cachedHandles <= 50,
        s"sub-sweep churn leaked: ${fleet.cachedHandles} cached")
      // no cross-stream stall: the persistent fleet keeps reporting
      // after all the churn
      val before = reports.size()
      val d3 = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < d3 && reports.size() == before)
        Thread.sleep(20)
      assert(reports.size() > before, "fleet stalled after churn")
      // failure isolation: none of the 50 persistent streams errored
      // (a churned name racing its own destroy is tolerated)
      val persistentErrors = errors.asScala.filter(names.contains)
      assert(persistentErrors.isEmpty, s"errors on: $persistentErrors")
    } finally fleet.close()
  }

  test("fleet sweep cadence holds at ~intervalMs under slow maintenance (deadline stagger)") {
    // onReport runs on the sweeper thread, so sleeping there simulates
    // slow compaction: 3 streams x 80 ms = 240 ms of work per 500 ms
    // sweep. The old stagger ADDED work to the pauses (~740 ms/sweep
    // steady); the deadline design absorbs it (~500 ms). Median over
    // several sweeps with a wide bound keeps this robust to CI noise.
    // measured once and, on a miss, ONCE more: the upper bound is a
    // wall-clock discriminator (~500 ms deadline design vs ~740 ms
    // drift design), and a box saturated by a concurrent suite can
    // stretch an honest 500 into the drift band for one window — a
    // real drift regression sits at ~740 steadily and fails BOTH
    // measurements, so the retry absorbs load, not bugs.
    def measureOnce(): (Long, Seq[Long]) = {
      val root = Files.createTempDirectory("graft-fleet-cadence").toString
      val stamps = new java.util.concurrent.CopyOnWriteArrayList[Long]()
      val fleet = StreamLogs.startMaintenance(spark, root, intervalMs = 500,
        tombstoneMaxAgeMs = Long.MaxValue, orphanGraceMs = Long.MaxValue,
        onReport = (n, _) => {
          if (n == "a") stamps.add(System.currentTimeMillis())
          Thread.sleep(80)
        })
      try {
        val c = clock(9995000)
        Seq("a", "b", "c").foreach(n =>
          fleet.open(n).publish(Seq("""{"i":1}"""), nowMs = c))
        val deadline = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < deadline && stamps.size() < 6)
          Thread.sleep(25)
        assert(stamps.size() >= 6, s"only ${stamps.size()} sweeps in 30 s")
        import scala.jdk.CollectionConverters._
        val periods = stamps.asScala.toSeq.sliding(2)
          .map { case Seq(x, y) => y - x }.toSeq.sorted
        (periods(periods.size / 2), periods)
      } finally fleet.close()
    }
    val (median, periods) = {
      val first = measureOnce()
      if (first._1 <= 650 && first._1 >= 400) first else measureOnce()
    }
    // drift design would sit at ~740 ms; deadline design at ~500 ms
    assert(median <= 650,
      s"sweep cadence drifted: median period $median ms for intervalMs=500 " +
        s"with 240 ms of maintenance (periods: $periods)")
    // and the interval is still respected as a lower bound (no busy
    // sweeping): nothing fires dramatically early
    assert(median >= 400, s"sweeping too fast: $median ms (periods: $periods)")
  }

  test("describe and describeSegments expose stream metadata as DataFrames") {
    val log = freshLog()
    val c = clock(9800000)
    val offs = (1 to 3).flatMap(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    log.publish(Seq.empty, version = Some(7))
    log.compactOnce(nowMs = c)
    val d = log.describe().collect().head
    assert(d.getAs[String]("stream") == "s1")
    assert(d.getAs[Long]("n_segments") == 1)
    assert(d.getAs[Long]("n_records") == 12)
    assert(d.getAs[Long]("producer_version") == 7)
    assert(d.getAs[String]("last_offset") == offs.last)
    assert(d.getAs[Long]("n_tombstones") == 3)
    assert(d.getAs[String]("newest_offset") == offs.last)
    val segs = log.describeSegments().collect()
    assert(segs.count(_.isNullAt(segs.head.fieldIndex("tombstoned_ms"))) == 1)
    assert(segs.count(!_.isNullAt(segs.head.fieldIndex("tombstoned_ms"))) == 3)
  }

  test("destroy resets the stream; the name is reusable with fresh offsets") {
    val log = freshLog()
    log.publish(Seq("""{"a":1}"""), version = Some(7))
    log.destroy()
    assert(log.segments.isEmpty && log.producerVersion == 0 && log.lastOffset.isEmpty)
    assert(log.consume(Offset.Beginning, 10).isEmpty)
    val offs = log.publish(Seq("""{"b":1}"""))
    assert(offs.length == 1)
    assert(log.consume(Offset.Beginning, 10).head._2 == """{"b":1}""")
  }

  test("cold start replays the metadata log; rebuildFromSegments recovers without it") {
    val root = Files.createTempDirectory("graft-streamlog").toString
    val log = new StreamLog(spark, root, "s1")
    val c = clock(8000000)
    val all = (1 to 3).flatMap(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    log.publish(Seq.empty, version = Some(3))

    val reopened = new StreamLog(spark, root, "s1")
    assert(reopened.segments.map(_.name) == log.segments.map(_.name))
    assert(reopened.producerVersion == 3)
    assert(reopened.consume(Offset.Beginning, 100).map(_._1) == all)
    // epoch restored: next publish must sort above everything
    val next = reopened.publish(Seq("""{"next":1}"""), nowMs = () => 1)
    assert(next.head > all.last)

    // lose the metadata log entirely → rebuild from the data files
    Files.delete(java.nio.file.Paths.get(root, "s1", "meta.jsonl"))
    val rebuilt = new StreamLog(spark, root, "s1")
    assert(rebuilt.segments.isEmpty) // nothing until rebuild is invoked
    rebuilt.rebuildFromSegments()
    assert(rebuilt.consume(Offset.Beginning, 100).map(_._1) == all :+ next.head)
    assert(rebuilt.segments.length == 4)
  }
}
