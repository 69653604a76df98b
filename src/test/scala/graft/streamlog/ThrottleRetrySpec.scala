package graft.streamlog

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Transient-error (throttling) retry — VERDICT r17 #1, the gap between
  * S3LiteServer-green and AWS/R2-deployable: every real S3-compatible
  * store answers 503 SlowDown under per-prefix request-rate pressure
  * (and the occasional 500 InternalError), and the AWS SDKs retry both
  * by default. Here the conformance server injects REAL 503/500
  * responses — one-shot, probabilistic storms, and bursts, with and
  * without `Retry-After` — and the batteries prove the adapters ride
  * them out with exponential-backoff-plus-full-jitter, zero operation
  * failures, and exact client/server fault reconciliation.
  *
  * SUITE-LOCAL GLOBAL STATE: every test here tunes
  * [[S3Http.retryPolicy]] and asserts on the process-wide retry
  * counters; since r19 the transport twin lives in TransportFaultSpec,
  * and every policy-tuning or fault-generating test — in either suite
  * or elsewhere — serializes on [[WireFaultSerial]].
  */
class ThrottleRetrySpec extends SparkSpec {

  private def withServer(auth: Option[SigV4Credentials] = None)
                        (f: S3LiteServer => Unit): Unit = {
    val srv = new S3LiteServer(auth = auth)
    try f(srv) finally srv.stop()
  }

  /** Run `f` under a test policy, always restoring the default —
    * and reset the process-wide counters so per-test deltas are
    * absolute. Serialized with every other wire-fault-generating test
    * via [[WireFaultSerial]] (r19): transport-fault retry made the
    * counters movable from any suite that kills connections. */
  private def withPolicy[A](p: S3Http.RetryPolicy)(f: => A): A =
    WireFaultSerial.synchronized {
      val prev = S3Http.retryPolicy
      S3Http.retryPolicy = p
      S3Http.resetThrottleCounters()
      try f finally S3Http.retryPolicy = prev
    }

  /** Fast-backoff policy for storm batteries: generous attempts (a
    * burst of 2 costs two attempts back to back), millisecond sleeps. */
  private val fastPolicy =
    S3Http.RetryPolicy(maxAttempts = 12, baseDelayMs = 2, maxDelayMs = 20,
      totalBudgetMs = 10000)

  test("transient-status classification: 429/500/502/503/504 retry; 4xx and success do not") {
    assert(Seq(429, 500, 502, 503, 504).forall(S3Http.isTransient))
    assert(Seq(200, 204, 206, 400, 403, 404, 409, 412, 416)
      .forall(s => !S3Http.isTransient(s)))
  }

  test("one-shot 503 on every adapter verb: GET, HEAD, PUT, conditional PUT, DELETE, LIST, batch-delete all retry through and succeed") {
    withServer() { srv =>
      withPolicy(fastPolicy) {
        val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
        val meta = new S3MetaStore(srv.endpoint, "b", "p/meta.jsonl")

        srv.throttleNext = 1
        segs.put("a.seg", "x\ny\n".getBytes)            // unconditional PUT
        srv.throttleNext = 1
        assert(new String(segs.get("a.seg")) == "x\ny\n") // GET
        srv.throttleNext = 1
        assert(segs.list().map(_.name) == Seq("a.seg")) // LIST
        srv.throttleNext = 1
        assert(meta.appendIf(0L, Seq(MetaJson.writer(1))))  // If-None-Match PUT
        val (_, t1) = meta.readWithTag()
        srv.throttleNext = 1
        assert(meta.appendIf(t1, Seq(MetaJson.version(3)))) // If-Match PUT
        srv.throttleNext = 1
        assert(meta.probeTag() != 0L)                    // HEAD
        srv.throttleNext = 1
        segs.delete("a.seg")                             // DELETE
        segs.put("b1.seg", "b\n".getBytes)
        segs.put("b2.seg", "b\n".getBytes)
        srv.throttleNext = 1
        segs.deleteMany(Seq("b1.seg", "b2.seg"))         // POST ?delete
        assert(segs.list().map(_.name) == Seq("meta.jsonl"))
        // every injected fault was followed by exactly one retry and
        // zero operations failed
        assert(srv.throttleNext == 0)
        assert(S3Http.throttleExhausted.get() == 0L)
        assert(S3Http.throttleRetries.get() == srv.throttled503.toLong,
          s"retries ${S3Http.throttleRetries.get()} != injected ${srv.throttled503}")
      }
    }
  }

  test("Retry-After is honored: the client sleeps the server's delta-seconds, not its own jitter") {
    withServer() { srv =>
      // baseDelayMs 1 caps attempt-1 jitter at 1ms (jitter grows as
      // base*2^k, independent of maxDelayMs), so any observed >=900ms
      // sleep is attributable only to the Retry-After header;
      // maxDelayMs 5000 leaves the header under the r18 hint cap
      withPolicy(S3Http.RetryPolicy(maxAttempts = 3, baseDelayMs = 1,
        maxDelayMs = 5000, totalBudgetMs = 10000)) {
        val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
        segs.put("a.seg", "x\n".getBytes)
        srv.throttleRetryAfterSec = Some(1)
        srv.throttleNext = 1
        val t0 = System.nanoTime()
        assert(new String(segs.get("a.seg")) == "x\n")
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        srv.throttleRetryAfterSec = None
        assert(elapsedMs >= 900,
          s"client slept only ${elapsedMs}ms against Retry-After: 1")
        assert(S3Http.throttleSleptMs.get() >= 1000L,
          s"slept-ms counter ${S3Http.throttleSleptMs.get()} < the honored header")
        assert(S3Http.throttleRetries.get() == 1L)
      }
    }
  }

  test("exhaustion is LOUD: a persistent 503 surfaces the real status after maxAttempts, and the exhausted counter records it") {
    withServer() { srv =>
      withPolicy(S3Http.RetryPolicy(maxAttempts = 3, baseDelayMs = 1,
        maxDelayMs = 2, totalBudgetMs = 10000)) {
        val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
        segs.put("a.seg", "x\n".getBytes)
        srv.throttleNext = 100 // outlasts any policy
        val e = intercept[IllegalArgumentException](segs.get("a.seg"))
        assert(e.getMessage.contains("503"),
          s"failure must carry the real status: ${e.getMessage}")
        assert(S3Http.throttleExhausted.get() == 1L)
        assert(S3Http.throttleRetries.get() == 2L,
          "maxAttempts=3 is 1 try + exactly 2 retries")
        srv.throttleNext = 0
        // the adapter is healthy again immediately after the outage
        assert(new String(segs.get("a.seg")) == "x\n")
      }
    }
  }

  test("a hostile Retry-After is capped at the policy's per-sleep ceiling, not the whole budget") {
    withServer() { srv =>
      // Retry-After: 2 (2000ms) against maxDelayMs 100: the hint must
      // clamp to ~100ms per sleep — uncapped it would stall the caller
      // the full header value on every attempt (r18 review)
      withPolicy(S3Http.RetryPolicy(maxAttempts = 3, baseDelayMs = 1,
        maxDelayMs = 100, totalBudgetMs = 10000)) {
        val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
        segs.put("a.seg", "x\n".getBytes)
        srv.throttleRetryAfterSec = Some(2)
        srv.throttleNext = 1
        val t0 = System.nanoTime()
        assert(new String(segs.get("a.seg")) == "x\n")
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        srv.throttleRetryAfterSec = None
        assert(elapsedMs < 1500,
          s"Retry-After: 2 must clamp to maxDelayMs=100, slept ${elapsedMs}ms")
        assert(S3Http.throttleSleptMs.get() <= 150L,
          s"slept-ms ${S3Http.throttleSleptMs.get()} — hint not capped")
      }
    }
  }

  test("backoff sleep budget caps a persistent outage in bounded time") {
    withServer() { srv =>
      // budget 50ms with Retry-After: 1 → the first retry's 1000ms
      // header hint (maxDelayMs 10000 leaves it uncapped) clamps to
      // the remaining 50ms budget, the budget is spent, the second
      // 503 exhausts
      withPolicy(S3Http.RetryPolicy(maxAttempts = 10, baseDelayMs = 1,
        maxDelayMs = 10000, totalBudgetMs = 50)) {
        val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
        segs.put("a.seg", "x\n".getBytes)
        srv.throttleRetryAfterSec = Some(1)
        srv.throttleNext = 100
        val t0 = System.nanoTime()
        intercept[IllegalArgumentException](segs.get("a.seg"))
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        srv.throttleRetryAfterSec = None
        srv.throttleNext = 0
        assert(elapsedMs < 5000,
          s"budget 50ms but the outage held the caller ${elapsedMs}ms")
        assert(S3Http.throttleExhausted.get() == 1L)
      }
    }
  }

  test("signed 503/500 storm battery: publish/consume/compact/maintain ride a p=0.25 burst-2 mixed storm — zero failures, client retries reconcile with injected faults exactly") {
    val creds = SigV4Credentials("AKIDSTORM", "stormsecret",
      sessionToken = Some("storm-token"))
    withServer(auth = Some(creds)) { srv =>
      S3Auth.register(srv.endpoint, creds)
      try withPolicy(fastPolicy) {
        val root = s"s3:${srv.endpoint}/b"
        var t = 5000000L
        val clock = () => { t += 1; t }
        srv.startStorm(S3LiteServer.ThrottleStorm(seed = 42L, p = 0.25,
          burstLen = 2, retryAfterSec = None, mix500 = 0.3))
        val log = new StreamLog(spark, root, "s1")
        assert(log.claimWriter() == 1L)
        val offsets = (1 to 12).flatMap(b =>
          log.publish((1 to 20).map(i => s"""{"b":$b,"i":$i}"""), nowMs = clock))
        val got = new StreamLog(spark, root, "s1")
          .consume(Offset.Beginning, 1000)
        assert(got.map(_._1) == offsets,
          s"consume under storm lost records: ${got.size}/${offsets.size}")
        var passes = 0
        while (log.compactOnce(nowMs = clock).isDefined) passes += 1
        assert(passes > 0, "compaction never ran under the storm")
        log.maintain(tombstoneMaxAgeMs = 0L, orphanGraceMs = 0L, nowMs = clock)
        val after = new StreamLog(spark, root, "s1")
          .consume(Offset.Beginning, 1000)
        assert(after.map(_._1) == offsets, "zero loss after compact+maintain")
        srv.stopStorm()
        val injected = srv.throttled503 + srv.throttled500
        assert(injected > 10, s"storm too quiet to prove anything: $injected")
        assert(S3Http.throttleExhausted.get() == 0L,
          "an operation exhausted its retries — the policy must outlast bursts")
        assert(S3Http.throttleRetries.get() == injected.toLong,
          s"every injected fault is retried exactly once: " +
            s"retries=${S3Http.throttleRetries.get()} injected=$injected " +
            s"(503=${srv.throttled503} 500=${srv.throttled500})")
        assert(srv.authRejects == 0, "storm retries must re-sign cleanly")
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  test("50-stream fleet soak under a sustained throttle storm: maintenance daemons and publishers sustain p=0.08 burst-2 faults with ZERO operation failures and zero loss") {
    withServer() { srv =>
      withPolicy(fastPolicy) {
        val root = s"s3:${srv.endpoint}/b"
        val names = (1 to 50).map(i => f"t$i%02d")
        val errors =
          new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
        val compacted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        val expected = scala.collection.mutable.Map[String, Seq[String]]()
        srv.startStorm(S3LiteServer.ThrottleStorm(seed = 7L, p = 0.08,
          burstLen = 2, retryAfterSec = None, mix500 = 0.2))
        val fleet = StreamLogs.startMaintenance(spark, root, intervalMs = 300,
          onReport = (n, r) => if (r.compacted.nonEmpty) compacted.add(n),
          onError = (n, e) => errors.add((n, e)))
        try {
          names.foreach { n =>
            val h = fleet.open(n)
            h.claimWriter()
            expected(n) = (1 to 5).flatMap(b =>
              h.publish((1 to 3).map(i => s"""{"b":$b,"i":$i}""")))
          }
          assert(StreamLogs.list(root) == names,
            "bucket-wide discovery must see all 50 streams through the storm")
          val deadline = System.currentTimeMillis() + 60000
          while (compacted.isEmpty && System.currentTimeMillis() < deadline)
            Thread.sleep(100)
          assert(compacted.asScala.nonEmpty,
            "no stream ever compacted under the storm")
        } finally fleet.close()
        srv.stopStorm()
        assert(errors.isEmpty,
          s"the fleet must sustain the storm with zero operation failures: " +
            errors.asScala.take(3).toSeq)
        assert(S3Http.throttleExhausted.get() == 0L,
          "no operation may exhaust its retry budget at p=0.08")
        assert(srv.throttled503 + srv.throttled500 > 20,
          s"storm too quiet: ${srv.throttled503 + srv.throttled500}")
        expected.foreach { case (n, offs) =>
          val got = new StreamLog(spark, root, n).consume(Offset.Beginning, 1000)
          assert(got.map(_._1) == offs,
            s"$n: ${got.size} records, want ${offs.size}")
        }
      }
    }
  }

  test("everything-at-once wire gate: throttle storm + mid-run rotation + MPU compaction + integrity catch") {
    // the r18 features COMPOSED on one signed wire: a 503/500 storm
    // rages the whole time, credentials rotate mid-run through a
    // provider, compaction's merged segment takes the multipart path,
    // its recorded sha verifies green through the storm — and a
    // server-side flipped byte is still caught loudly afterwards.
    // fastPolicy's 12 attempts make exhaustion-by-aligned-draws
    // vanishingly improbable (p^11) AND keep storm sleeps at
    // milliseconds — the default 5-attempt/100ms policy would both
    // flake (~p^3 per throttled op) and stall the suite
    val creds0 = SigV4Credentials("AKIDCOMPOSE", "composesecret",
      sessionToken = Some("tok-0"))
    val srv = new S3LiteServer(auth = Some(creds0))
    try withPolicy(fastPolicy) {
      @volatile var current = creds0
      S3Auth.registerProvider(srv.endpoint, new CredentialProvider {
        def resolve(): SigV4Credentials = current
      }, ttlMs = 0L) // ttl 0 = re-resolve every request
      srv.startStorm(S3LiteServer.ThrottleStorm(seed = 18L, p = 0.15,
        burstLen = 2, retryAfterSec = None, mix500 = 0.3))
      try {
        val root = s"s3:${srv.endpoint}/b"
        val meta = new S3MetaStore(srv.endpoint, "b", "s9/meta.jsonl",
          S3AuthRef.Registry(srv.endpoint))
        // 64 KiB threshold: the ~90 KiB merged segment takes the MPU
        // path (one final part — the part-size floor binds non-final
        // parts only)
        val segs = new S3SegmentStore(srv.endpoint, "b", "s9/segments/",
          S3AuthRef.Registry(srv.endpoint),
          multipartThresholdBytes = 64L * 1024)
        val log = new StreamLog(spark, root, "s9", meta, segs)
        val t = { var x = 1500000000000L; () => { x += 1; x } }
        val payload = "x" * 400
        log.publish((1 to 120).map(i => s"""{"i":$i,"p":"$payload"}"""), nowMs = t)
        // rotate MID-RUN: server flips first, the next signed request
        // 403s once and refreshes through the provider
        val creds1 = creds0.copy(sessionToken = Some("tok-1"))
        current = creds1
        srv.rotate(creds1)
        log.publish((121 to 240).map(i => s"""{"i":$i,"p":"$payload"}"""), nowMs = t)
        // each ~54 KiB publish went up as a single PUT
        assert(srv.partPutCount(1) == 0)
        val postsBefore = srv.posts
        val merged = log.compactOnce(Compaction.Limits(maxSegments = 10), nowMs = t).get
        assert(merged.bytes > 64L * 1024, "merged segment must cross the MPU threshold")
        // ...and the server saw it take the multipart path: an initiate,
        // its part, a complete, through the storm
        assert(srv.partPutCount(1) >= 1, "the merged segment was not a multipart upload")
        assert(srv.posts - postsBefore >= 2, "initiate + complete POSTs")
        assert(srv.pendingUploads == 0)
        assert(merged.sha256.matches("[0-9a-f]{64}"))
        // full verified read THROUGH the storm
        assert(log.readAfter().count() == 240L)
        assert(S3Http.throttleRetries.get() > 0L, "the storm must have bitten")
        assert(S3Http.throttleExhausted.get() == 0L, "nothing may exhaust")
        // server-side corruption of the MPU-written object is caught
        val b = segs.get(merged.name)
        val i = Offset.Width + 2
        b(i) = (b(i) ^ 0x01).toByte
        segs.put(merged.name, b)
        val log2 = new StreamLog(spark, root, "s9", meta,
          new S3SegmentStore(srv.endpoint, "b", "s9/segments/",
            S3AuthRef.Registry(srv.endpoint)))
        val ex = intercept[Exception] { log2.readAfter().collect() }
        assert(ex.toString.contains("integrity") ||
          Option(ex.getCause).exists(_.toString.contains("integrity")),
          s"corrupted MPU segment must fail loud, got: $ex")
      } finally {
        srv.stopStorm()
        S3Auth.unregister(srv.endpoint)
      }
    } finally srv.stop()
  }
}
