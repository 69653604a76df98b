package graft.streamlog

import graft.SparkSpec

/** Generative sweep over the segment DATA plane (VERDICT r15 #2) — the
  * one plane ProtocolFuzzSpec deliberately does not model: real record
  * BYTES flowing through publish / compaction-apply / tombstone-clean /
  * purgeOrphans / rebuild over an [[EventualListSegmentStore]] (lagged
  * LIST + delete ghosts — the conservative bucket-LIST stress) COMPOSED
  * with a metadata store that injects the two conditional-write failure
  * modes (spurious 409-style rejections and ambiguous landed-but-
  * response-lost writes) at seeded points.
  *
  * After EVERY operation (the sequential driver makes each point
  * quiescent) a FRESH handle replays the metadata log and the two
  * data-plane invariants are asserted against an independent shadow
  * model:
  *
  *   - NO COMMITTED RECORD IS EVER UNREADABLE: a full consume returns
  *     exactly the model's committed payloads, in offset order —
  *     through every compaction rewrite, tombstone clean, orphan
  *     purge, ghost re-delete, and metadata fault;
  *   - NO LIVE SEGMENT IS EVER PURGED: every segment the replayed
  *     index references GETs successfully (the orphan sweep, fed by a
  *     LAGGED list full of ghosts and missing fresh names, never
  *     deletes referenced data).
  *
  * A failure reports its seed — re-running that one seed replays the
  * exact interleaving, fault schedule, and LIST-lag schedule. The
  * sweep drives the protocol sites directly (the manual merge-apply is
  * byte-identical to compactOnce's apply with the distributed Spark
  * sort elided — same put-then-tombstone+add commit order); the deep
  * run at the bottom drives the REAL [[StreamLog.maintain]] Spark
  * path under the same fault pressure.
  *
  * This sweep is what found the stale-LIST-ghost rebuild crash
  * (StreamLog.rebuildFromSegments now skips listed-but-deleted names).
  */
class DataPlaneFuzzSpec extends SparkSpec {

  /** InMemory metadata store with seeded fault injection on every
    * conditional write (same semantics as ProtocolFuzzSpec's): spurious
    * = report false, land nothing; ambiguous = land, report false.
    * Only a write whose precondition holds can land: a bucket answers
    * a write at a stale tag with 412 whatever happens to the response,
    * so an ambiguous draw on such a write is a plain loss, and only
    * the landed ones count as injected ambiguities. (A handle's first
    * commit attempt runs at the tag its state replays, which another
    * handle's commit may have made stale.) */
  private class SeededFaultyMetaStore(rng: scala.util.Random,
                                      spuriousRate: Double,
                                      ambiguousRate: Double)
      extends InMemoryMetaStore {
    var spuriousInjected = 0
    var ambiguousInjected = 0
    private def fault(attempt: => Boolean): Boolean = {
      val draw = rng.nextDouble()
      if (draw < spuriousRate) { spuriousInjected += 1; false }
      else if (draw < spuriousRate + ambiguousRate) {
        if (attempt) ambiguousInjected += 1
        false
      } else attempt
    }
    override def appendIf(tag: Long, ls: Seq[String]): Boolean =
      fault(super.appendIf(tag, ls))
    override def replaceIf(tag: Long, ls: Seq[String]): Boolean =
      fault(super.replaceIf(tag, ls))
  }

  /** Manual clock driving BOTH the stream's offset epochs and the
    * eventual store's LIST-lag visibility, so lag scenarios are seeded
    * and deterministic, never sleep-dependent. */
  private final class Clock(var now: Long) {
    val fn: () => Long = () => { now += 1; now }
  }

  private final class Model {
    var writerEpoch = 0L
    var records = Vector.empty[String]       // committed payloads in order
    var live = Vector.empty[String]          // live segment names (sorted by range)
    var tombstoned = Set.empty[String]
    /** uncommitted .seg debris exists (fenced publish / stale compact)
      * that a rebuild would resurrect — rebuild waits for a settled
      * purge to clear it. */
    var dirtyOrphans = false
  }

  private val LagTicks = 25L

  private def runOne(seed: Long, steps: Int): (Int, Int) = {
    val rng = new scala.util.Random(seed)
    val clock = new Clock(1000000L + seed * 1000000L)
    val meta = new SeededFaultyMetaStore(rng, 0.10, 0.10)
    val segs = new EventualListSegmentStore(LagTicks, () => clock.now)
    val root = s"mem:dpfuzz-$seed"
    val name = "s"
    StreamStores.register(root, name, meta, segs)
    try {
      val m = new Model
      val handles = Array.fill(2 + rng.nextInt(2))(
        new StreamLog(spark, root, name))
      val epochs = Array.fill(handles.length)(0L)

      def check(op: String): Unit = {
        val fresh = new StreamLog(spark, root, name)
        def ctx = s"seed=$seed op=$op"
        // invariant 1: every committed record readable, in order
        val got = fresh.consume(Offset.Beginning, m.records.size + 16)
        assert(got.map(_._2) == m.records,
          s"$ctx committed records: got ${got.size}, want ${m.records.size}")
        // invariant 2: no live segment ever purged
        fresh.segments.foreach { s =>
          try segs.get(s.name)
          catch { case _: java.nio.file.NoSuchFileException =>
            fail(s"$ctx live segment ${s.name} was deleted") }
        }
        // live index sorted and non-overlapping
        fresh.segments.sliding(2).foreach {
          case Seq(a, b) => assert(a.lastOffset < b.firstOffset,
            s"$ctx overlap ${a.name}/${b.name}")
          case _ =>
        }
        assert(fresh.segments.map(_.name) == m.live, s"$ctx live set")
        assert(fresh.writerEpoch == m.writerEpoch, s"$ctx writerEpoch")
      }

      for (step <- 1 to steps) {
        val h = rng.nextInt(handles.length)
        val stale = epochs(h) < m.writerEpoch
        val op = rng.nextInt(7)
        val opName = s"op$step/${Seq("claim", "publish", "compact", "clean",
          "purge", "rebuild", "checkpoint")(op)}(h$h${if (stale) " stale" else ""})"
        op match {
          case 0 => // claim: strictly newer epoch, fences the others
            val e = handles(h).claimWriter()
            assert(e > m.writerEpoch, s"seed=$seed $opName non-monotonic")
            epochs(h) = e
            m.writerEpoch = e

          case 1 => // publish real records through the handle
            val recs = (1 to 1 + rng.nextInt(3))
              .map(i => s"""{"step":$step,"i":$i}""")
            if (stale) {
              // the segment put precedes the fenced commit — the throw
              // leaves REAL uncommitted debris for the orphan sweep
              intercept[WriterFencedException](
                handles(h).publish(recs, nowMs = clock.fn))
              m.dirtyOrphans = true
            } else {
              handles(h).refresh()
              handles(h).publish(recs, nowMs = clock.fn)
              m.records = m.records ++ recs
              val fresh = new StreamLog(spark, root, name)
              m.live = fresh.segments.map(_.name).toVector
            }

          case 2 => // compaction APPLY: merge the two oldest live segments
            if (m.live.size >= 2) {
              val w = m.live.take(2)
              // reading the window also asserts invariant 1 at the bytes
              val content = w.flatMap(segs.getLines)
                .mkString("", "\n", "\n").getBytes("UTF-8")
              val fresh = new StreamLog(spark, root, name)
              val metas = fresh.segments.filter(s => w.contains(s.name))
              val merged = SegmentMeta(s"m$step.seg", metas.head.firstOffset,
                metas.last.lastOffset, clock.fn(),
                metas.map(_.records).sum, metas.map(_.bytes).sum)
              segs.put(merged.name, content) // put BEFORE commit, as compactOnce does
              val lines = w.map(n => MetaJson.tombstone(n, clock.now)) :+
                MetaJson.add(merged)
              if (stale) {
                intercept[WriterFencedException](
                  MetaCommits.fencedAppend(meta, epochs(h), lines))
                m.dirtyOrphans = true // the merged put is debris
              } else {
                MetaCommits.fencedAppend(meta, epochs(h), lines)
                m.live = merged.name +: m.live.drop(2)
                // the index keeps range order; merged covers the head
                m.tombstoned = m.tombstoned ++ w
              }
            }

          case 3 => // tombstone clean: deletes files, appends purge lines
            if (m.tombstoned.nonEmpty) {
              handles(h).refresh()
              if (stale)
                // files may already be gone when the fence throws —
                // tombstoned data is slated for deletion, so that is
                // benign; the GHOSTS it creates stress the lagged LIST
                intercept[WriterFencedException](
                  handles(h).cleanTombstones(0L, clock.fn))
              else {
                handles(h).cleanTombstones(0L, clock.fn)
                m.tombstoned = Set.empty
              }
            }

          case 4 => // orphan purge over the LAGGED listing (ghosts and all)
            handles(h).refresh()
            handles(h).purgeOrphans(graceMs = 0L)
            // debris older than the lag is now visible and collected;
            // advance far enough and purge again to guarantee clean
            if (rng.nextBoolean()) {
              clock.now += LagTicks + 1
              handles(h).refresh()
              handles(h).purgeOrphans(graceMs = 0L)
              m.dirtyOrphans = false
            }

          case 5 => // crash rebuild — only against a SETTLED listing with
            // no uncommitted debris (the documented operating envelope);
            // ghosts from recent cleans are still exercised via the lag
            if (!m.dirtyOrphans) {
              clock.now += LagTicks + 1
              handles(h).refresh()
              handles(h).purgeOrphans(graceMs = 0L)
              clock.now += LagTicks + 1
              handles(h).rebuildFromSegments(nowMs = clock.fn)
              // rebuild resets the log: epoch line gone, tombstones
              // dropped (their files, if any, become future orphans)
              m.writerEpoch = 0L
              m.dirtyOrphans = m.tombstoned.nonEmpty
              m.tombstoned = Set.empty
            }

          case 6 => // checkpoint
            if (stale)
              intercept[WriterFencedException](
                MetaCommits.checkpoint(meta, epochs(h)))
            else MetaCommits.checkpoint(meta, epochs(h)): Unit
        }
        check(opName)
      }
      (meta.spuriousInjected, meta.ambiguousInjected)
    } finally StreamStores.dropMem(root, name)
  }

  /** Env knob for one-off deep soaks (gate default stays 600). */
  private val sweepSeeds: Long =
    math.max(600L, sys.env.get("SPARK_GRAFT_FUZZ_SEEDS")
      .map(_.toLong / 2).getOrElse(600L))

  test("600 seeded data-plane interleavings over lagged LIST + faulty metadata: committed bytes always readable, live never purged") {
    val (sp, am) = (1L to sweepSeeds).map(seed => runOne(seed, steps = 30))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(sp > 500 && am > 500,
      s"fault coverage too thin: spurious=$sp ambiguous=$am")
  }

  test("a deep data-plane run (300 steps) stays exact under sustained fault and lag pressure") {
    val (sp, am) = runOne(seed = 4242L, steps = 300)
    assert(sp > 5 && am > 5, s"deep run injected spurious=$sp ambiguous=$am")
  }

  test("WIRE data-plane faults: segment PUTs hit real 409s and dropped responses — publish retries under fresh names, debris is swept, zero loss") {
    // the in-memory sweep injects faults on METADATA writes; this
    // drives the SEGMENT byte plane through the conformance server's
    // fault injectors. A failed segment PUT fails the publish (data
    // writes are never the commit point); the caller's retry derives a
    // FRESH UUID name, so an ambiguously-landed first attempt becomes
    // an unreferenced orphan the sweep collects — the exact recovery
    // story SegmentStore requirement #3 states, proven on the wire.
    val srv = new S3LiteServer()
    try WireFaultSerial.synchronized {
      val root = s"s3:${srv.endpoint}/b"
      val rng = new scala.util.Random(99L)
      var t = 9000000L
      val clock = () => { t += 1; t }
      val log = new StreamLog(spark, root, "s1")
      var committed = Vector.empty[String]
      var faults = 0
      (1 to 30).foreach { i =>
        val recs = Seq(s"""{"i":$i}""")
        val draw = rng.nextDouble()
        if (draw < 0.25) { srv.failPuts = 1; faults += 1 }
        else if (draw < 0.5) { srv.dropResponses = 1; faults += 1 }
        // retry loop: a publisher whose segment PUT failed re-publishes;
        // the protocol guarantees the failed attempt left nothing
        // REFERENCED (metadata never saw it)
        var done = false
        while (!done) {
          try { log.publish(recs, nowMs = clock); done = true }
          catch {
            // 409 surfaces as a require failure; a fault drawn against
            // the METADATA put is absorbed inside the commit loop; a
            // dropped segment-PUT response is since r19 RETRIED in
            // place (replay-safe identical bytes) rather than surfaced
            // — IOException stays caught for policy-exhaustion paths
            case _: IllegalStateException | _: IllegalArgumentException |
                 _: java.io.IOException => ()
          }
        }
        committed = committed ++ recs
      }
      assert(faults > 5, s"only $faults faults drawn — reseed")
      val fresh = new StreamLog(spark, root, "s1")
      assert(fresh.consume(Offset.Beginning, 100).map(_._2) == committed,
        "every committed record readable after wire faults")
      // ambiguous landings left orphan objects (landed bytes, never
      // committed): the sweep collects them; live segments survive
      fresh.purgeOrphans(graceMs = 0L)
      assert(fresh.consume(Offset.Beginning, 100).map(_._2) == committed)
      val liveNames = fresh.segments.map(_.name).toSet
      val listed = StreamStores.segmentStore(root, "s1").list().map(_.name).toSet
      assert(liveNames.subsetOf(listed), "no live segment purged")
      assert(listed == liveNames,
        s"orphans not collected: ${listed -- liveNames}")
    } finally srv.stop()
  }

  test("REAL maintain() (distributed compaction + clean + purge + checkpoint) under metadata faults keeps every committed record") {
    // the sweep elides the Spark merge; this drives the genuine
    // StreamLog.maintain path — distributed sort, putFromFile, apply —
    // over the same eventual store + faulty metadata composition
    (1L to 3L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val clock = new Clock(5000000L + seed * 1000000L)
      val meta = new SeededFaultyMetaStore(rng, 0.10, 0.10)
      val segs = new EventualListSegmentStore(LagTicks, () => clock.now)
      val root = s"mem:dpfuzz-real-$seed"
      StreamStores.register(root, "s", meta, segs)
      try {
        val log = new StreamLog(spark, root, "s")
        var records = Vector.empty[String]
        (1 to 4).foreach { round =>
          val recs = (1 to 3).map(i => s"""{"r":$round,"i":$i}""")
          log.publish(recs, nowMs = clock.fn)
          records = records ++ recs
          clock.now += LagTicks + 1
          log.maintain(tombstoneMaxAgeMs = 0L, orphanGraceMs = 0L,
            nowMs = clock.fn)
          val fresh = new StreamLog(spark, root, "s")
          assert(fresh.consume(Offset.Beginning, 100).map(_._2) == records,
            s"seed=$seed round=$round lost records")
          fresh.segments.foreach(s => segs.get(s.name))
        }
        assert(meta.spuriousInjected + meta.ambiguousInjected > 0,
          s"seed=$seed no faults fired — rerun with a different seed")
      } finally StreamStores.dropMem(root, "s")
    }
  }
}
