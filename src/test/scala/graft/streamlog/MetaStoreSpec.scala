package graft.streamlog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The conditional-append storage seam (r13): the fencing/epoch
  * protocols proven over BOTH backends — the POSIX default and the
  * in-memory If-Match simulation of an object store (no filesystem, no
  * locks, only tag-compare appends) — plus the protocols under injected
  * lost races, the 412-retry path a real bucket produces.
  */
class MetaStoreSpec extends SparkSpec {

  /** An If-Match store that loses its first `n` CAS attempts to a
    * concurrently-appending interloper — run between read and append,
    * exactly where a bucket writer's PUT hits a 412. */
  private class ContendedStore(interloperLines: Seq[String], var n: Int)
      extends InMemoryMetaStore {
    var injected = 0
    override def appendIf(tag: Long, ls: Seq[String]): Boolean = {
      if (n > 0) {
        n -= 1; injected += 1
        // the interloper commits first — at the CURRENT tag, so the
        // victim's append (at its stale tag) must lose and retry
        assert(super.appendIf(readWithTag()._2, interloperLines),
          "interloper append must land")
      }
      super.appendIf(tag, ls)
    }
  }

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  /** The two failure modes a real bucket adds on top of a clean
    * interloper race (MetaStore's stated requirements #2/#3):
    * `spurious` conditional writes REJECT although the precondition
    * held (S3 409 ConcurrentModification under overlapping attempts —
    * nothing commits); `ambiguous` conditional writes LAND but the
    * response is lost (timeout after the write) — reported as failure,
    * so the protocol retries against a log that already contains its
    * own lines. Counts apply to appendIf and replaceIf alike. */
  private class FaultyMetaStore(var spurious: Int = 0, var ambiguous: Int = 0)
      extends InMemoryMetaStore {
    private def fault(attempt: => Boolean): Boolean =
      if (spurious > 0) { spurious -= 1; false }
      else if (ambiguous > 0) {
        ambiguous -= 1
        assert(attempt, "the ambiguous write must actually land")
        false
      } else attempt
    override def appendIf(tag: Long, ls: Seq[String]): Boolean =
      fault(super.appendIf(tag, ls))
    override def replaceIf(tag: Long, ls: Seq[String]): Boolean =
      fault(super.replaceIf(tag, ls))
  }

  test("both backends honor the CAS contract: stale tag refuses, fresh tag lands, clear resets") {
    val dir = Files.createTempDirectory("graft-metastore")
    val posix = new PosixMetaStore(dir.resolve("meta.jsonl"), dir)
    val mem = new InMemoryMetaStore
    for (store <- Seq[MetaStore](posix, mem)) {
      val (l0, t0) = store.readWithTag()
      assert(l0.isEmpty)
      assert(store.appendIf(t0, Seq(MetaJson.writer(1))))
      val (l1, t1) = store.readWithTag()
      assert(l1 == Vector(MetaJson.writer(1)) && t1 != t0)
      // the stale tag must refuse — this IS the object-store If-Match
      assert(!store.appendIf(t0, Seq(MetaJson.writer(99))),
        "an append at a superseded tag must lose")
      assert(store.readWithTag()._1 == Vector(MetaJson.writer(1)),
        "a lost race commits nothing")
      // fresh tag appends; whole lines, order preserved
      assert(store.appendIf(t1, Seq(MetaJson.version(5), MetaJson.writer(2))))
      assert(store.readWithTag()._1 ==
        Vector(MetaJson.writer(1), MetaJson.version(5), MetaJson.writer(2)))
      assert(MetaLog.writerEpochOf(store.readWithTag()._1) == 2L)
      store.clear()
      val (l2, t2) = store.readWithTag()
      assert(l2.isEmpty)
      assert(store.appendIf(t2, Seq(MetaJson.writer(7))), "usable after clear")
      // replaceIf (the checkpoint primitive) honors the same tag
      // compare: stale refuses, fresh swaps the WHOLE log
      val (_, t3) = store.readWithTag()
      assert(!store.replaceIf(t2, Seq(MetaJson.writer(99))),
        "a replace at a superseded tag must lose")
      assert(store.replaceIf(t3, Seq(MetaJson.writer(8), MetaJson.version(2))))
      assert(store.readWithTag()._1 ==
        Vector(MetaJson.writer(8), MetaJson.version(2)))
      store.clear()
    }
  }

  test("ABA: a log cleared and regrown to the SAME byte length refuses the stale tag") {
    val dir = Files.createTempDirectory("graft-aba")
    val store = new PosixMetaStore(dir.resolve("meta.jsonl"), dir)
    assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
    val (_, staleTag) = store.readWithTag()
    // destroy + regrow to a byte-identical LENGTH but different content:
    // a size-based tag would match and let the stale decision commit
    // onto an unrelated log (ADVICE r13)
    store.clear()
    assert(store.appendIf(0L, Seq(MetaJson.writer(2)))) // same line length
    assert(!store.appendIf(staleTag, Seq(MetaJson.version(9))),
      "a tag from the pre-clear log must not commit onto the regrown one")
    // while a regrown log with byte-identical CONTENT shares the tag by
    // construction - and committing against it is correct, because the
    // decision inspected exactly these bytes
    store.clear()
    assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
    assert(store.appendIf(staleTag, Seq(MetaJson.version(9))))
    assert(MetaLog.writerEpochOf(store.readWithTag()._1) == 1L)
  }

  test("torn O_APPEND debris: repaired on first touch, the committed tag survives, appends never glue") {
    val dir = Files.createTempDirectory("graft-torn")
    val meta = dir.resolve("meta.jsonl")
    val store = new PosixMetaStore(meta, dir)
    val (_, t0) = store.readWithTag()
    assert(store.appendIf(t0, Seq(MetaJson.writer(1), MetaJson.version(3))))
    val (committed, tag) = store.readWithTag()
    val committedSize = Files.size(meta)
    // a pre-atomic-append writer died mid-write: raw partial line, no '\n'
    Files.write(meta, """{"type":"add","name":"torn-seg","firstOff""".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    assert(Files.size(meta) > committedSize, "the tear must actually grow the file")
    // read tolerates the tear WITHOUT writing (a pure reader may sit on
    // a read-only mount): whole committed lines only, committed tag
    val tornSize = Files.size(meta)
    val (repaired, rTag) = store.readWithTag()
    assert(repaired == committed)
    assert(rTag == tag, "read must report the last committed tag")
    assert(Files.size(meta) == tornSize, "a pure read must not write")
    assert(store.appendIf(tag, Seq(MetaJson.writer(2))),
      "the pre-tear tag must still commit after repair")
    val (after, _) = store.readWithTag()
    assert(after == committed :+ MetaJson.writer(2),
      "the new line must not glue onto torn bytes")
    assert(MetaLog.writerEpochOf(after) == 2L)
    // the log always ends clean and atomic-rename leaves no tmp debris
    val bytes = Files.readAllBytes(meta)
    assert(bytes.last == '\n'.toByte)
    assert(!Files.exists(dir.resolve("meta.jsonl.tmp")))
    // a tear with NO prior commit (first-ever append died): repairs to empty
    val dir2 = Files.createTempDirectory("graft-torn2")
    val meta2 = dir2.resolve("meta.jsonl")
    Files.write(meta2, "half-a-first-line".getBytes)
    val store2 = new PosixMetaStore(meta2, dir2)
    val (l2, t2) = store2.readWithTag()
    assert(l2.isEmpty && t2 == 0L)
    assert(store2.appendIf(0L, Seq(MetaJson.writer(1))))
    assert(store2.readWithTag()._1 == Vector(MetaJson.writer(1)))
  }

  test("a torn tail cannot wedge the sink-epoch commit") {
    val dir = Files.createTempDirectory("graft-torn-sink")
    val store = new PosixMetaStore(dir.resolve("meta.jsonl"), dir)
    val my = MetaCommits.claimWriter(store, 0L)
    val seg1 = SegmentMeta("s1", Offset.serialize(1000L, 0L),
      Offset.serialize(1000L, 9L), 1000L, 10L, 100L)
    assert(MetaCommits.commitSinkEpoch(store, my, "q", 0L, Seq(seg1)))
    // debris lands after the committed epoch (the r12 O_APPEND shape)
    Files.write(dir.resolve("meta.jsonl"),
      """{"type":"add","name":"s2","firstOffset":"x""".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    val seg2 = SegmentMeta("s2", Offset.serialize(2000L, 0L),
      Offset.serialize(2000L, 9L), 2000L, 10L, 100L)
    // the next epoch proceeds: repair drops the torn line, the overlap
    // check sees only committed segments, the marker lands exactly once
    assert(MetaCommits.commitSinkEpoch(store, my, "q", 1L, Seq(seg2)))
    assert(!MetaCommits.commitSinkEpoch(store, my, "q", 1L, Seq(seg2)),
      "replay of the committed epoch must be a no-op")
    val st = MetaLog.replayLines(store.readWithTag()._1)
    assert(st.index.segments.map(_.name) == Seq("s1", "s2"))
    assert(st.index.segments.map(_.records).sum == 20L)
  }

  test("fencedAppend retries through lost races and lands once; a newer claim refuses") {
    // 3 injected 412s: the commit must retry and land EXACTLY once
    val store = new ContendedStore(Seq(MetaJson.version(1)), n = 3)
    MetaCommits.fencedAppend(store, myEpoch = 0L, Seq("""{"type":"add","name":"x","firstOffset":"a","lastOffset":"b","createdMS":1,"records":1,"bytes":1}"""))
    assert(store.injected == 3)
    val lines = store.readWithTag()._1
    assert(lines.count(_.contains("\"add\"")) == 1, "exactly one append landed")
    // a claim arriving DURING the retries fences the commit: the
    // re-decide sees the interloper's newer epoch and refuses
    val fencing = new ContendedStore(Seq(MetaJson.writer(5)), n = 1)
    val f = intercept[WriterFencedException](
      MetaCommits.fencedAppend(fencing, myEpoch = 0L, Seq(MetaJson.version(2))))
    assert(f.provided == 0 && f.current == 5)
    assert(!fencing.readWithTag()._1.exists(_.contains("producer_version")),
      "the fenced commit appended nothing")
  }

  test("claimWriter race at the seam: 16 raw-store claimants land distinct ordered epochs, no locks") {
    val store = new InMemoryMetaStore
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 16).map { _ =>
      new Thread(() => epochs.add(MetaCommits.claimWriter(store, 0L)))
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    // no POSIX lock exists here — ONLY the tag compare serializes, and
    // it is enough: exactly 1..16, each claim superseding the last
    assert(epochs.asScala.toSeq.sorted == (1L to 16L), s"epochs: $epochs")
    assert(MetaLog.writerEpochOf(store.readWithTag()._1) == 16L)
  }

  test("commitSinkEpoch over the simulated store: exactly-once under replay AND under a racing twin") {
    val store = new InMemoryMetaStore
    val seg1 = SegmentMeta("s1.seg", Offset.serialize(1000, 0), Offset.serialize(1000, 4), 1L, 5L, 50L)
    assert(MetaCommits.commitSinkEpoch(store, 0L, "qA", 0L, Seq(seg1)))
    // replay of the same epoch (driver died between sink commit and
    // checkpoint write): commits NOTHING, returns false
    assert(!MetaCommits.commitSinkEpoch(store, 0L, "qA", 0L, Seq(seg1)))
    val afterReplay = store.readWithTag()._1
    assert(afterReplay.count(_.contains("sink_epoch")) == 1)
    assert(MetaLog.replayLines(afterReplay).index.segments.map(_.name) == Seq("s1.seg"))
    // a second query id keeps its own high-water mark
    val seg2 = SegmentMeta("s2.seg", Offset.serialize(2000, 0), Offset.serialize(2000, 0), 2L, 1L, 10L)
    assert(MetaCommits.commitSinkEpoch(store, 0L, "qB", 0L, Seq(seg2)))
    // overlap with the live index refuses (offsets must advance)
    val overlap = SegmentMeta("s3.seg", Offset.serialize(1500, 0), Offset.serialize(2500, 0), 3L, 1L, 10L)
    intercept[IllegalArgumentException](
      MetaCommits.commitSinkEpoch(store, 0L, "qB", 1L, Seq(overlap)))
    // fencing: a claimed writer epoch above the sink's token refuses
    MetaCommits.claimWriter(store, 0L)
    intercept[WriterFencedException](
      MetaCommits.commitSinkEpoch(store, 0L, "qB", 1L,
        Seq(SegmentMeta("s4.seg", Offset.serialize(3000, 0), Offset.serialize(3000, 0), 4L, 1L, 10L))))
    // THE RACE: a twin driver commits the SAME epoch between this
    // commit's read and append (the checkpoint-recovery double-driver
    // window) — the retry re-decides, sees the epoch committed, and
    // appends nothing: exactly-once with no lock anywhere
    val race = new ContendedStore(
      Seq(MetaJson.add(seg1), MetaJson.sinkEpoch("qR", 7L)), n = 1)
    assert(!MetaCommits.commitSinkEpoch(race, 0L, "qR", 7L,
      Seq(SegmentMeta("dup.seg", seg1.firstOffset, seg1.lastOffset, 9L, 5L, 50L))))
    val lines = race.readWithTag()._1
    assert(lines.count(_.contains("\"sink_epoch\"")) == 1, "epoch committed once")
    assert(!lines.exists(_.contains("dup.seg")), "the losing twin appended nothing")
  }

  test("commitBulk re-validates overlap against the interloper's commit, not the stale snapshot") {
    val a = SegmentMeta("a.seg", Offset.serialize(1000, 0), Offset.serialize(1000, 9), 1L, 10L, 100L)
    val b = SegmentMeta("b.seg", Offset.serialize(1000, 5), Offset.serialize(1000, 20), 1L, 10L, 100L)
    // both loads validated against the same empty snapshot; the seam
    // forces the loser to re-validate against the winner's index — and
    // b overlaps a, so the second commit REFUSES instead of corrupting
    val store = new ContendedStore(Seq(MetaJson.add(a)), n = 1)
    intercept[IllegalArgumentException](MetaCommits.commitBulk(store, 0L, Seq(b)))
    assert(store.readWithTag()._1.count(_.contains("\"add\"")) == 1)
    // a non-overlapping load retries through the same race and lands
    val store2 = new ContendedStore(Seq(MetaJson.add(a)), n = 1)
    val c = SegmentMeta("c.seg", Offset.serialize(2000, 0), Offset.serialize(2000, 9), 2L, 10L, 100L)
    MetaCommits.commitBulk(store2, 0L, Seq(c))
    assert(MetaLog.replayLines(store2.readWithTag()._1).index.segments.map(_.name)
      == Seq("a.seg", "c.seg"))
  }

  test("StreamLog end-to-end over the simulated conditional store: publish, fence, supersede, re-claim") {
    // the r12 fencing scenario re-run with NO metadata on the
    // filesystem at all: two handles (two drivers sharing a bucket)
    // share one in-memory If-Match log; segments stay on disk
    val root = Files.createTempDirectory("graft-memstore").toString
    val sharedLog = new InMemoryMetaStore
    val c = clock(7000000)
    val a = new StreamLog(spark, root, "s1", sharedLog)
    a.publish(Seq("""{"w":0}"""), nowMs = c)
    assert(a.claimWriter() == 1L)
    a.publish(Seq("""{"w":1}"""), nowMs = c)

    val b = new StreamLog(spark, root, "s1", sharedLog)
    assert(b.claimWriter() == 2L)
    val f = intercept[WriterFencedException](a.publish(Seq("""{"w":2}"""), nowMs = c))
    assert(f.provided == 1 && f.current == 2)

    // the live writer reads everything the fenced eras committed
    b.refresh()
    assert(b.consume(Offset.Beginning, 100).map(_._2) ==
      Seq("""{"w":0}""", """{"w":1}"""))
    b.publish(Seq("""{"w":3}"""), nowMs = c)

    // compaction (a metadata commit) works over the seam too
    b.publish((1 to 4).map(i => s"""{"b":$i}"""), nowMs = c)
    assert(b.compactOnce(nowMs = c).isDefined)
    assert(b.consume(Offset.Beginning, 100).size == 7)

    // A re-claims and resumes; B fences — same protocol, no POSIX lock
    assert(a.claimWriter() == 3L)
    a.refresh()
    a.publish(Seq("""{"w":4}"""), nowMs = c)
    intercept[WriterFencedException](b.publish(Seq("""{"x":1}"""), nowMs = c))
    // nothing ever reached a meta.jsonl file
    assert(!Files.exists(java.nio.file.Paths.get(root, "s1", "meta.jsonl")))
  }

  test("checkpoint: the rewritten log replays to identical state, keeps exactly-once, loses races cleanly") {
    val store = new InMemoryMetaStore
    // build a log with plenty of garbage: a claim superseded twice, a
    // compacted-away add + tombstone + purge, sink epochs 0..3 of one
    // query, and live state on top
    MetaCommits.claimWriter(store, 0L) // 1 (superseded)
    MetaCommits.claimWriter(store, 0L) // 2 (superseded)
    val my = MetaCommits.claimWriter(store, 0L) // 3 (live)
    val dead = SegmentMeta("dead.seg", Offset.serialize(100, 0), Offset.serialize(100, 9), 1L, 10L, 100L)
    val live = SegmentMeta("live.seg", Offset.serialize(200, 0), Offset.serialize(200, 9), 2L, 10L, 100L)
    MetaCommits.fencedAppend(store, my, Seq(
      MetaJson.version(7), MetaJson.add(dead),
      MetaJson.tombstone("dead.seg", 50L), MetaJson.purge("dead.seg"),
      MetaJson.add(live)))
    (0L to 3L).foreach { e =>
      MetaCommits.commitSinkEpoch(store, my, "qA",
        e, Seq(SegmentMeta(s"sink$e.seg", Offset.serialize(300 + e, 0),
          Offset.serialize(300 + e, 0), 3L, 1L, 10L)))
    }
    val before = store.readWithTag()._1
    val stBefore = MetaLog.replayLines(before)
    assert(MetaCommits.checkpoint(store, my), "a garbage-heavy log must shrink")
    val after = store.readWithTag()._1
    assert(after.length < before.length, s"${after.length} !< ${before.length}")
    // replayed state is IDENTICAL: index, version, writer epoch,
    // tombstones — and the sink high-water mark, so exactly-once
    // survives the rewrite (a replayed epoch still commits nothing)
    val stAfter = MetaLog.replayLines(after)
    assert(stAfter.index.segments == stBefore.index.segments)
    assert(stAfter.producerVersion == 7L && stAfter.writerEpoch == my)
    assert(stAfter.tombstones == stBefore.tombstones)
    assert(MetaLog.maxSinkEpochOf(after, "qA") == 3L)
    assert(!MetaCommits.commitSinkEpoch(store, my, "qA", 3L,
      Seq(SegmentMeta("dup.seg", Offset.serialize(900, 0),
        Offset.serialize(900, 0), 9L, 1L, 10L))),
      "exactly-once must survive the checkpoint")
    // a second checkpoint is a no-op: the log is already minimal
    assert(!MetaCommits.checkpoint(store, my))
    // a fenced handle cannot checkpoint
    MetaCommits.claimWriter(store, my)
    intercept[WriterFencedException](MetaCommits.checkpoint(store, my))
    // a racing append between read and replace wins — the checkpoint
    // retries over it and the interloper's line SURVIVES the rewrite
    val contended = new InMemoryMetaStore {
      private var n = 1
      override def replaceIf(tag: Long, ls: Seq[String]): Boolean = {
        if (n > 0) {
          n -= 1
          assert(appendIf(readWithTag()._2, Seq(MetaJson.add(
            SegmentMeta("racer.seg", Offset.serialize(500, 0),
              Offset.serialize(500, 0), 5L, 1L, 10L)))))
        }
        super.replaceIf(tag, ls)
      }
    }
    MetaCommits.claimWriter(contended, 0L)
    MetaCommits.claimWriter(contended, 0L) // garbage so the snapshot shrinks
    assert(MetaCommits.checkpoint(contended, 2L))
    val racedLines = contended.readWithTag()._1
    assert(MetaLog.replayLines(racedLines).index.segments.map(_.name)
      .contains("racer.seg"), "a mid-checkpoint commit must never be dropped")
  }

  test("conformance matrix: the full protocol battery replays to IDENTICAL state on every backend sim") {
    // one scenario — claim, publish-shaped fenced appends, three sink
    // epochs (one replayed), a bulk load, a checkpoint — driven over
    // the POSIX default, the clean bucket sim, a bucket that spuriously
    // rejects (409), and a bucket whose writes land ambiguously. The
    // protocols must produce the same replayed state everywhere; only
    // then is the seam's "swap the store, change nothing above"
    // claim real.
    def battery(store: MetaStore): MetaLog.State = {
      val my = MetaCommits.claimWriter(store, 0L)
      MetaCommits.fencedAppend(store, my, Seq(MetaJson.version(3),
        MetaJson.add(SegmentMeta("p1.seg", Offset.serialize(1000, 0),
          Offset.serialize(1000, 4), 1L, 5L, 50L))))
      (0L to 1L).foreach { e =>
        assert(MetaCommits.commitSinkEpoch(store, my, "qA", e,
          Seq(SegmentMeta(s"sink$e.seg", Offset.serialize(2000 + e, 0),
            Offset.serialize(2000 + e, 0), 2L, 1L, 10L))))
      }
      // replay of epoch 1 commits nothing on ANY backend
      assert(!MetaCommits.commitSinkEpoch(store, my, "qA", 1L,
        Seq(SegmentMeta("dup.seg", Offset.serialize(9000, 0),
          Offset.serialize(9000, 0), 9L, 1L, 10L))))
      MetaCommits.commitBulk(store, my, Seq(
        SegmentMeta("bulk.seg", Offset.serialize(3000, 0),
          Offset.serialize(3000, 9), 3L, 10L, 100L)))
      MetaCommits.checkpoint(store, my)
      val st = MetaLog.replayLines(store.readWithTag()._1)
      assert(MetaLog.maxSinkEpochOf(store.readWithTag()._1, "qA") == 1L)
      st
    }
    val dir = Files.createTempDirectory("graft-matrix")
    val backends = Seq[(String, MetaStore)](
      "posix" -> new PosixMetaStore(dir.resolve("meta.jsonl"), dir),
      "bucket" -> new InMemoryMetaStore,
      "bucket+409s" -> new FaultyMetaStore(spurious = 7),
      "bucket+ambiguous" -> new FaultyMetaStore(ambiguous = 4))
    val states = backends.map { case (name, s) => name -> battery(s) }
    val (_, ref) = states.head
    states.tail.foreach { case (name, st) =>
      assert(st.index.segments == ref.index.segments, s"$name index diverged")
      assert(st.producerVersion == ref.producerVersion, s"$name version")
      assert(st.writerEpoch >= 1L, s"$name claims none")
    }
    assert(ref.index.segments.map(_.name) ==
      Seq("p1.seg", "sink0.seg", "sink1.seg", "bulk.seg"))
  }

  test("ambiguous outcomes: every protocol is exactly-once when its landed write reports failure") {
    // claimWriter: the ambiguous claim is NOT assumed owned (a twin's
    // byte-identical claim is indistinguishable) — the retry lands a
    // FRESH higher epoch and owns that one
    val claim = new FaultyMetaStore(ambiguous = 1)
    val owned = MetaCommits.claimWriter(claim, 0L)
    assert(owned == 2L, "retry must claim past the ambiguous claim")
    assert(MetaLog.writerEpochOf(claim.readWithTag()._1) == 2L)

    // fencedAppend: the duplicate lines replay to identical state
    // (adds key on offset) and the next checkpoint drops them
    val app = new FaultyMetaStore(ambiguous = 1)
    val seg = SegmentMeta("a.seg", Offset.serialize(1000, 0),
      Offset.serialize(1000, 4), 1L, 5L, 50L)
    MetaCommits.fencedAppend(app, 0L, Seq(MetaJson.add(seg)))
    val lines = app.readWithTag()._1
    assert(lines.count(_.contains("a.seg")) == 2, "landed twice by design")
    assert(MetaLog.replayLines(lines).index.segments == Seq(seg),
      "duplicate add lines must replay to the single segment")
    assert(MetaCommits.checkpoint(app, 0L))
    assert(app.readWithTag()._1.count(_.contains("a.seg")) == 1)

    // commitSinkEpoch: the retry sees its own high-water mark, commits
    // nothing, reports replay — exactly one marker, one add
    val sink = new FaultyMetaStore(ambiguous = 1)
    assert(!MetaCommits.commitSinkEpoch(sink, 0L, "q", 0L, Seq(seg)),
      "ambiguous sink commit reads as replay (benign false)")
    val sl = sink.readWithTag()._1
    assert(sl.count(_.contains("sink_epoch")) == 1)
    assert(sl.count(_.contains("a.seg")) == 1)

    // commitBulk: the retry recognizes its own landed segments instead
    // of refusing them as an overlap — no exception, no duplicates
    val bulk = new FaultyMetaStore(ambiguous = 1)
    MetaCommits.commitBulk(bulk, 0L, Seq(seg))
    assert(bulk.readWithTag()._1.count(_.contains("a.seg")) == 1)
    // ...even when a maintenance pass COMPACTED the landed segments
    // before the retry ran: they are tombstoned, not live, and must
    // still read as this commit's own work, not an overlap
    val merged = SegmentMeta("m.seg", seg.firstOffset, seg.lastOffset,
      2L, 5L, 50L)
    val compacted = new InMemoryMetaStore {
      private var n = 1
      override def appendIf(tag: Long, ls: Seq[String]): Boolean = {
        if (n > 0) {
          n -= 1
          // the ambiguous landing + an immediate compaction of it
          assert(super.appendIf(readWithTag()._2,
            ls ++ Seq(MetaJson.tombstone(seg.name, 9L), MetaJson.add(merged))))
          false
        } else super.appendIf(tag, ls)
      }
    }
    MetaCommits.commitBulk(compacted, 0L, Seq(seg)) // must not throw
    val clines = compacted.readWithTag()._1
    assert(clines.count(_.contains("\"a.seg\"")) == 2,
      "one add + one tombstone — the retry appended nothing")
    assert(MetaLog.replayLines(clines).index.segments.map(_.name) == Seq("m.seg"))
    // ...but tombstone-then-PURGE inside the retry window (ADVICE r14)
    // deliberately does NOT auto-recognize: a name-unknown range-covered
    // segment is ambiguous between our own compacted-and-purged landing
    // and a same-epoch concurrent committer's overlapping load — and
    // silently reporting success for the latter would orphan its data
    // (r15, three review passes). The refusal is LOUD and carries the
    // post-append diagnosis so the benign case (needs a near-zero
    // tombstone age racing this very call) is actionable.
    val purged = new InMemoryMetaStore {
      private var n = 1
      override def appendIf(tag: Long, ls: Seq[String]): Boolean = {
        if (n > 0 && ls.exists(_.contains("a.seg"))) {
          n -= 1
          assert(super.appendIf(readWithTag()._2,
            ls ++ Seq(MetaJson.tombstone(seg.name, 9L), MetaJson.add(merged),
              MetaJson.purge(seg.name))))
          false
        } else super.appendIf(tag, ls)
      }
    }
    val pEpoch = MetaCommits.claimWriter(purged, 0L)
    val pe = intercept[IllegalArgumentException](
      MetaCommits.commitBulk(purged, pEpoch, Seq(seg)))
    assert(pe.getMessage.contains("this call already appended once"),
      s"the post-append retry diagnosis must be present: ${pe.getMessage}")
    val pst = MetaLog.replayLines(purged.readWithTag()._1)
    assert(pst.index.segments.map(_.name) == Seq("m.seg"),
      "the landed work is committed (under its merged form) despite the refusal")
    // a FRESH load (fenced or legacy) whose caller-supplied offsets sit
    // inside a live segment refuses WITHOUT the post-append diagnosis —
    // a duplicate re-load / clock-regression reuse, never a replay
    val legacy = new InMemoryMetaStore
    assert(legacy.appendIf(0L, Seq(MetaJson.add(merged))))
    val le = intercept[IllegalArgumentException](
      MetaCommits.commitBulk(legacy, 0L,
        Seq(SegmentMeta("foreign.seg", seg.firstOffset, seg.lastOffset,
          3L, 5L, 50L))))
    assert(!le.getMessage.contains("already appended"))
    val fencedDup = new InMemoryMetaStore
    val fdEpoch = MetaCommits.claimWriter(fencedDup, 0L)
    assert(fencedDup.appendIf(fencedDup.readWithTag()._2,
      Seq(MetaJson.add(merged))))
    intercept[IllegalArgumentException](
      MetaCommits.commitBulk(fencedDup, fdEpoch,
        Seq(SegmentMeta("fresh-dup.seg", seg.firstOffset, seg.lastOffset,
          4L, 5L, 50L))))
    // ...and a GENUINE overlap (different name, crossing offsets)
    // still refuses
    intercept[IllegalArgumentException](MetaCommits.commitBulk(bulk, 0L,
      Seq(SegmentMeta("b.seg", Offset.serialize(1000, 2),
        Offset.serialize(1000, 7), 2L, 5L, 50L))))

    // checkpoint: the ambiguous replace landed; the retry finds the log
    // already minimal and reports no-op — state is the snapshot
    val ck = new FaultyMetaStore()
    MetaCommits.claimWriter(ck, 0L)
    MetaCommits.claimWriter(ck, 0L) // garbage so the snapshot shrinks
    ck.ambiguous = 1
    assert(!MetaCommits.checkpoint(ck, 2L),
      "ambiguous checkpoint reads as no-op (benign false)")
    val ckLines = ck.readWithTag()._1
    assert(ckLines == MetaCommits.snapshotLines(ckLines),
      "the log must BE its minimal snapshot after the landed replace")
    assert(MetaLog.writerEpochOf(ckLines) == 2L)
  }

  test("publish end-to-end over a faulty bucket: spurious 409s and ambiguous landings lose no records") {
    val root = Files.createTempDirectory("graft-faulty").toString
    val c = clock(9000000)
    val faulty = new FaultyMetaStore()
    val log = new StreamLog(spark, root, "s1", faulty)
    log.publish(Seq("""{"n":1}"""), nowMs = c)
    faulty.spurious = 2 // two 409s: publish retries through them
    log.publish(Seq("""{"n":2}"""), nowMs = c)
    faulty.ambiguous = 1 // landed-but-reported-failed: retry double-adds
    log.publish(Seq("""{"n":3}"""), nowMs = c)
    log.refresh()
    assert(log.consume(Offset.Beginning, 100).map(_._2) ==
      Seq("""{"n":1}""", """{"n":2}""", """{"n":3}"""),
      "every record exactly once, in order, through both failure modes")
  }

  test("kill -9 mid-compaction in ANOTHER PROCESS: survivor takeover leaves zero orphans, zero lost records") {
    val root = Files.createTempDirectory("graft-kill9").toString
    val c = clock(8000000)
    val log = new StreamLog(spark, root, "s1")
    log.publish((1 to 5).map(i => s"""{"a":$i}"""), nowMs = c)
    log.publish((1 to 5).map(i => s"""{"b":$i}"""), nowMs = c)
    val before = log.consume(Offset.Beginning, 100)

    // spawn a REAL second JVM that claims writership and dies (SIGKILL)
    // holding it, with compaction debris on disk — no shutdown hooks,
    // no lock release, exactly a machine loss
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
      "graft.streamlog.DyingWriter", root, "s1")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val claimed = Iterator.continually(reader.readLine())
      .takeWhile(_ != null).find(_.startsWith("CLAIMED"))
    assert(claimed.contains("CLAIMED 1"), s"subprocess said: $claimed")

    // the dead-to-be writer's claim fences this JVM's handle
    intercept[WriterFencedException](log.publish(Seq("""{"x":1}"""), nowMs = c))

    proc.destroyForcibly() // SIGKILL
    assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))

    // survivor takeover: re-claim past the dead writer's epoch, then one
    // maintenance pass must reclaim its debris — the put-but-never-
    // committed merged segment — without touching a single committed
    // record
    assert(log.claimWriter() == 2L)
    log.refresh()
    val report = log.maintain(orphanGraceMs = 0L, nowMs = c)
    assert(report.orphansPurged.contains("zzzz-uncommitted-merge.seg"),
      s"purged: ${report.orphansPurged}")
    assert(!Files.exists(
      java.nio.file.Paths.get(root, "s1", "segments", "zzzz-uncommitted-merge.seg")))
    assert(log.consume(Offset.Beginning, 100) == before, "records lost in takeover")
    log.publish(Seq("""{"resumed":1}"""), nowMs = c)
    assert(log.consume(Offset.Beginning, 100).size == before.size + 1)
  }
}
