package graft.streamlog

import graft.SparkSpec

/** Gates the BENCH_STREAMLOG.json artifact contract (the BenchSpec
  * pattern): the pure render/parse pair round-trips, and a tiny real
  * run over the conformance server produces every phase with sane wire
  * economy — so a format drift or an economy regression fails the
  * build before a round's artifact silently changes shape.
  */
class BenchStreamlogSpec extends SparkSpec {

  test("render/parse round-trip preserves the deterministic columns for every phase, sweep/MPU names, and the storm block") {
    val phases = Seq(
      "publish@24" -> BenchStreamlog.Phase(4800, 1.234, 24, 48, 0, 0, 0, 0),
      "consume@24" -> BenchStreamlog.Phase(4800, 0.5, 25, 0, 0, 0, 0, 24),
      "compact@24" -> BenchStreamlog.Phase(4800, 2.0, 40, 12, 0, 0, 24, 30),
      "maintain@24" -> BenchStreamlog.Phase(4800, 0.1, 3, 1, 1, 0, 0, 0),
      // r18 names carry digits + underscores — the parser must keep up
      "publish_b20000@16" -> BenchStreamlog.Phase(320000, 9.9, 16, 32, 0, 0, 0, 0),
      "mpu_parallel@16" -> BenchStreamlog.Phase(16, 1.5, 0, 16, 2, 0, 0, 0),
      "publish_storm@24" -> BenchStreamlog.Phase(4800, 2.2, 24, 48, 0, 0, 0, 0))
    val storm = BenchStreamlog.StormSummary(17, 5, 22L, 0L)
    val json = BenchStreamlog.render(phases, Some(storm))
    assert(json.startsWith("""{"metric":"streamlog_bench""""))
    assert(json.contains(""""records_per_batch":200"""))
    assert(json.contains(""""sweep_batch_sizes":[200,2000,20000]"""))
    val parsed = BenchStreamlog.parse(json)
    assert(parsed.keySet == phases.map(_._1).toSet)
    phases.foreach { case (n, p) =>
      assert(parsed(n) == ((p.records, p.wireOps, p.rangeGets)),
        s"$n round-trip")
    }
    // derived fields are consistent with their inputs
    assert(json.contains(""""wire_ops":72"""), "publish 24+48")
    assert(json.contains(""""ops_per_record":0.0150"""), "72/4800")
    assert(BenchStreamlog.parseStorm(json).contains((17, 5, 22L, 0L)),
      "the storm block round-trips")
    // stormless renders parse with no storm block (back-compat)
    assert(BenchStreamlog.parseStorm(
      BenchStreamlog.render(phases.take(2))).isEmpty)
    // the r19 fault-storm block round-trips, independent of the storm's
    val faults = BenchStreamlog.FaultSummary(3, 1, 2, 4, 11, 2, 9L, 0L, 13L)
    val withFaults = BenchStreamlog.render(phases, Some(storm), Some(faults))
    assert(BenchStreamlog.parseFaults(withFaults).contains(faults))
    assert(BenchStreamlog.parseFaults(json).isEmpty, "faultless back-compat")
    assert(BenchStreamlog.parse(withFaults).keySet == phases.map(_._1).toSet,
      "phase parsing unaffected by the fault block")
  }

  test("range-read pipelining pair: identical lines and GET counts; the readahead wall beats serial behind a simulated RTT") {
    val phases = BenchStreamlog.runRangeRead(chunks = 12,
      chunkBytes = 8 * 1024, delayMs = 10).toMap
    val ser = phases("rangeread_serial@12")
    val pre = phases("rangeread_prefetch@12")
    assert(ser.records == pre.records && ser.records > 0)
    // Content-Range plans the window exactly: both modes issue one GET
    // per chunk, no speculative waste
    assert(ser.rangeGets == 12, s"serial paid ${ser.rangeGets} GETs")
    assert(pre.rangeGets == 12, s"prefetch paid ${pre.rangeGets} GETs")
    assert(pre.wallSec < ser.wallSec,
      f"readahead (${pre.wallSec}%.3fs) must beat serial (${ser.wallSec}%.3fs)")
  }

  test("mixed-storm phase: zero loss under composed throttle+fault storms, counters reconciled and embedded in the artifact") {
    // runMixedStorm swaps the global policy and resets the shared
    // counters — serialize with the counter-exact suites
    val ((name, phase), faults) = WireFaultSerial.synchronized(
      BenchStreamlog.runMixedStorm(spark, 8))
    assert(name == "publish_mixedstorm@8")
    assert(phase.records == 8L * BenchStreamlog.RecordsPerBatch)
    assert(faults.kills > 0, s"fault storm never fired: $faults")
    assert(faults.injected503 + faults.injected500 > 0, s"throttle quiet: $faults")
    assert(faults.transportExhausted == 0L)
  }

  test("batch-size sweep invariant: publish stays EXACTLY 2 wire ops per batch as batch size grows 10x") {
    // the crossover claim's load-bearing half (VERDICT r17 #3): bigger
    // batches must not change the per-batch wire shape — runSweep
    // itself REQUIREs gets==0 && puts==2*batches, so reaching the
    // phase list at both sizes IS the invariant
    Seq(200, 2000).foreach { size =>
      val phases = BenchStreamlog.runSweep(spark, size, batches = 3).toMap
      val pub = phases(s"publish_b$size@3")
      assert(pub.records == 3L * size)
      assert(pub.wireOps == 6, s"b=$size: ${pub.wireOps} ops for 3 batches")
      val con = phases(s"consume_b$size@3")
      assert(con.records == pub.records)
      assert(con.rangeGets >= 1, "sweep consume rides the range path")
    }
  }

  test("MPU bench phase: serial and parallel upload the same spool with identical wire economy (init + parts + complete)") {
    // tiny spool (12 MiB / 5 MiB parts = 3 parts) — the ARTIFACT run
    // uses 256 MiB; this gates the harness shape, not the speedup
    val (n1, p1) = BenchStreamlog.runMpu(12L * 1024 * 1024,
      5L * 1024 * 1024, 1, "mpu_serial")
    val (n2, p2) = BenchStreamlog.runMpu(12L * 1024 * 1024,
      5L * 1024 * 1024, 2, "mpu_parallel")
    assert(n1 == "mpu_serial@3" && n2 == "mpu_parallel@3")
    assert(p1.records == 3 && p2.records == 3)
    assert(p1.puts == 3 && p2.puts == 3, "one PUT per part, both modes")
    assert(p1.posts == 2 && p2.posts == 2, "initiate + complete, both modes")
  }

  test("poll-latency rows (r20): fresh cadence beats the backoff cap; the cap bounds idle p99; block renders and parses") {
    // pure render/parse round-trip
    val lat = Seq(
      "active" -> BenchStreamlog.LatencySummary(30, 41.25, 55.0, 58.75),
      "idle_backoff" -> BenchStreamlog.LatencySummary(12, 700.5, 990.25, 1010.0))
    val json = BenchStreamlog.render(Nil, latency = lat)
    val parsed = BenchStreamlog.parsePollLatency(json)
    assert(parsed("active") == ((30, 41.25, 55.0, 58.75)))
    assert(parsed("idle_backoff") == ((12, 700.5, 990.25, 1010.0)))
    assert(BenchStreamlog.parsePollLatency("{}").isEmpty)

    // behavioral gate (small rounds — the committed artifact runs more):
    // a fresh-cadence delivery rides the 50 ms probe; a poll escalated
    // to the 1 s cap pays up to the CAP, never the timeout
    val active = BenchStreamlog.runPollLatency(spark, rounds = 5,
      idleBeforePublishMs = 0)
    assert(active.p50Ms < 400.0,
      s"fresh-cadence p50 ${active.p50Ms} ms — the probe interval is 50 ms")
    val idle = BenchStreamlog.runPollLatency(spark, rounds = 3,
      idleBeforePublishMs = 2600)
    assert(idle.p99Ms > 150.0,
      s"idle p99 ${idle.p99Ms} ms — the poll never escalated past fresh cadence?")
    assert(idle.p99Ms < 1500.0,
      s"idle p99 ${idle.p99Ms} ms — latency must be bounded by the 1 s CAP, " +
        "not the poll timeout")
    assert(active.p50Ms < idle.p99Ms,
      "fresh cadence must beat the escalated cap")
  }

  test("a tiny real run produces all four phases with the uncontended wire economy") {
    val phases = BenchStreamlog.runAt(spark, segments = 6).toMap
    assert(phases.keySet ==
      Set("publish@6", "consume@6", "compact@6", "maintain@6"))
    val pub = phases("publish@6")
    assert(pub.records == 6L * BenchStreamlog.RecordsPerBatch)
    // same-handle publish = 1 segment PUT + 1 meta PUT per batch and no
    // meta GET: each commit lands at the tag of the handle's own last
    // write (the r14 GET-economy contract, now regressed via the bench)
    assert(pub.gets == 0, s"publish paid ${pub.gets} GETs for 6 batches")
    assert(pub.puts == 12, s"publish paid ${pub.puts} PUTs for 6 batches")
    val con = phases("consume@6")
    assert(con.records == pub.records)
    // range-streaming consume: ~1 meta GET + 1 range GET per segment
    assert(con.rangeGets >= 1, "consume must ride the range path")
    assert(con.wireOps <= 6 * 2 + 4, s"consume paid ${con.wireOps} ops")
    assert(phases("compact@6").puts >= 1, "compaction must land a merge")
    // an idle sweep on a steady log costs O(1) wire ops (refresh +
    // plan reads + clean/purge LIST + ONE batch-delete POST +
    // checkpoint commit) — the artifact tracks the exact number; this
    // bound only catches a per-segment or per-record blowup. With
    // batch delete (r17) the sweep's k tombstone collections cost 1
    // POST, so the bound holds however many segments compacted.
    val m = phases("maintain@6")
    assert(m.wireOps <= 20, s"an idle sweep paid ${m.wireOps} wire ops")
    assert(m.deletes <= 1,
      s"tombstone collection must batch, paid ${m.deletes} single DELETEs")
  }
}
