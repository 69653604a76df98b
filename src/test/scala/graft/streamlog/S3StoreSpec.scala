package graft.streamlog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The S3-protocol adapters driven against the conformance server over
  * REAL sockets — the wire-level counterpart of MetaStoreSpec's
  * in-memory batteries: every CAS decision here is decided by the
  * server's If-Match compare returning an actual 412/409 status, not a
  * simulated boolean, and every segment byte crosses HTTP.
  */
class S3StoreSpec extends SparkSpec {

  private def withServer(maxKeys: Int = 1000,
                         auth: Option[SigV4Credentials] = None)
                        (f: S3LiteServer => Unit): Unit = {
    val srv = new S3LiteServer(maxKeys, auth)
    try f(srv) finally srv.stop()
  }

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  test("MetaStore CAS contract over real HTTP: stale tag loses via 412, fresh lands, replace + clear") {
    withServer() { srv =>
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      val (l0, t0) = store.readWithTag()
      assert(l0.isEmpty && t0 == 0L)
      assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
      val (l1, t1) = store.readWithTag()
      assert(l1 == Vector(MetaJson.writer(1)) && t1 != 0L)
      // the stale tag must lose — this 412 comes off the wire
      assert(!store.appendIf(t0, Seq(MetaJson.writer(99))))
      assert(!store.appendIf(0L, Seq(MetaJson.writer(99))),
        "create-only If-None-Match must refuse an existing log")
      assert(store.readWithTag()._1 == Vector(MetaJson.writer(1)))
      assert(store.appendIf(t1, Seq(MetaJson.version(5))))
      assert(store.readWithTag()._1 ==
        Vector(MetaJson.writer(1), MetaJson.version(5)))
      // replaceIf: stale refuses, fresh swaps the whole log
      val (_, t2) = store.readWithTag()
      assert(!store.replaceIf(t1, Seq(MetaJson.writer(8))))
      assert(store.replaceIf(t2, Seq(MetaJson.writer(8))))
      assert(store.readWithTag()._1 == Vector(MetaJson.writer(8)))
      store.clear()
      assert(store.readWithTag() == (Vector.empty, 0L))
      assert(store.appendIf(0L, Seq(MetaJson.writer(9))), "usable after clear")
    }
  }

  test("claimWriter race through real sockets: 16 HTTP claimants land epochs exactly 1..16") {
    withServer() { srv =>
      val epochs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = (1 to 16).map { _ =>
        new Thread(() => epochs.add(MetaCommits.claimWriter(
          new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl"), 0L)))
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      // 16 independent HTTP clients, no lock anywhere — only the
      // server's If-Match compare serializes them
      assert(epochs.asScala.toSeq.sorted == (1L to 16L), s"epochs: $epochs")
    }
  }

  test("injected 409 ConcurrentModification: the commit retries through the wire and lands once") {
    withServer() { srv =>
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      MetaCommits.claimWriter(store, 0L)
      srv.failPuts = 3
      MetaCommits.fencedAppend(store, 1L, Seq(MetaJson.version(7)))
      val lines = store.readWithTag()._1
      assert(lines.count(_.contains("producer_version")) == 1,
        "exactly one append landed through three real 409s")
      assert(MetaLog.replayLines(lines).producerVersion == 7L)
    }
  }

  test("ambiguous outcome over the wire: the PUT lands, the response is dropped, the protocol stays exactly-once") {
    withServer() { srv =>
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      // appendIf under a dropped response resolves as LOST (stated
      // requirement #3) instead of throwing out of the commit loop
      srv.dropResponses = 1
      MetaCommits.fencedAppend(store, 0L, Seq(MetaJson.version(7)))
      val lines = store.readWithTag()._1
      assert(lines.count(_.contains("producer_version")) == 2,
        "the landed ambiguous write + the retry both present by design")
      assert(MetaLog.replayLines(lines).producerVersion == 7L,
        "duplicate lines replay to the single committed state")
      // the exactly-once protocol: a dropped-response sink commit
      // reads as replay on retry — one marker, one add
      store.clear()
      val seg = SegmentMeta("a.seg", Offset.serialize(1000, 0),
        Offset.serialize(1000, 4), 1L, 5L, 50L)
      srv.dropResponses = 1
      assert(!MetaCommits.commitSinkEpoch(store, 0L, "q", 0L, Seq(seg)),
        "ambiguous sink commit reads as benign replay")
      val sl = store.readWithTag()._1
      assert(sl.count(_.contains("sink_epoch")) == 1)
      assert(sl.count(_.contains("a.seg")) == 1)
    }
  }

  test("SegmentStore over HTTP: put/get/delete round-trip; paginated LIST drains the cursor") {
    withServer(maxKeys = 3) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/")
      (1 to 8).foreach(i => segs.put(f"seg$i%02d.seg", s"line$i\n".getBytes))
      assert(new String(segs.get("seg03.seg")) == "line3\n")
      intercept[java.nio.file.NoSuchFileException](segs.get("absent.seg"))
      // 8 objects at 3 keys/page = 3 pages; the adapter must drain the
      // continuation cursor or silently lose segments
      val listed = segs.list().map(_.name)
      assert(listed == (1 to 8).map(i => f"seg$i%02d.seg"),
        s"paginated LIST must return every key once: $listed")
      assert(segs.list().forall(_.lastModifiedMs > 0L))
      segs.delete("seg05.seg")
      segs.delete("seg05.seg") // idempotent
      assert(segs.list().size == 7)
      // prefix isolation: another stream's segments are invisible
      new S3SegmentStore(srv.endpoint, "b", "s2/segments/")
        .put("other.seg", "x\n".getBytes)
      assert(segs.list().size == 7)
    }
  }

  test("StreamLog end-to-end on an s3: root — publish, consume, poll, compact, rebuild, destroy, zero local state") {
    withServer() { srv =>
      val local = LocalLeftovers.start()
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(7000000)
      val log = new StreamLog(spark, root, "s1")
      val offs = log.publish((1 to 5).map(i => s"""{"a":$i}"""), nowMs = c)
      assert(offs.size == 5)
      log.publish((1 to 5).map(i => s"""{"b":$i}"""), nowMs = c)
      assert(log.consume(Offset.Beginning, 100).size == 10)
      assert(log.consume(offs.last, 100).size == 5, "offset chaining")

      // a SECOND handle (fresh HTTP client, shared bucket) polls and is
      // woken by the first handle's publish through the metadata tag
      val other = new StreamLog(spark, root, "s1")
      val tip = log.lastOffset.get
      val t = new Thread(() => { Thread.sleep(100); log.publish(Seq("""{"c":1}"""), nowMs = c); () })
      t.start()
      val got = other.poll(tip, 10, timeoutMs = 30000, intervalMs = 25)
      t.join()
      assert(got.map(_._2) == Seq("""{"c":1}"""))

      // distributed read: executors resolve the store from the root
      // string and GET whole objects over HTTP
      assert(log.readAfter(Offset.Beginning).count() == 11L)

      // compaction: merged segment lands as a whole-object PUT
      assert(log.compactOnce(nowMs = c).isDefined)
      assert(log.consume(Offset.Beginning, 100).size == 11)

      // crash rebuild from bucket LIST + GET alone
      val rebuilt = new StreamLog(spark, root, "s1")
      rebuilt.rebuildFromSegments(nowMs = c)
      assert(rebuilt.consume(Offset.Beginning, 100).size == 11)

      // nothing on the local filesystem, compaction included: the
      // metadata log and the segment bytes both live in the bucket
      assert(local.made.isEmpty, local.made)
      assert(srv.keys.exists(_.startsWith("s1/segments/")))
      assert(srv.keys.contains("s1/meta.jsonl"))

      log.refresh()
      log.destroy()
      assert(srv.keys.isEmpty, s"destroy must empty the bucket prefix: ${srv.keys}")
      assert(log.consume(Offset.Beginning, 100).isEmpty)
      log.publish(Seq("""{"fresh":1}"""), nowMs = c)
      assert(log.consume(Offset.Beginning, 100).size == 1, "name reusable")
    }
  }

  test("DSv2 batch read, bulk write, and streaming sink run over the s3: root") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val log = new StreamLog(spark, root, "s1")
      val c = clock(7000000)
      val offs = (1 to 3).flatMap(_ =>
        log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
      // batch read: the planner replays the metadata log over HTTP, the
      // tasks GET whole segment objects over HTTP
      val df = spark.read.format("streamlog")
        .option("path", root).option("stream", "s1").load()
      assert(df.count() == 15)
      import org.apache.spark.sql.functions.col
      val pruned = df.filter(col("offset") > offs(7))
        .collect().map(_.getString(0)).sorted
      assert(pruned.toSeq == offs.drop(8))

      // bulk write: range-sorted segments PUT by executors, one fenced
      // If-Match metadata commit at the driver
      import spark.implicits._
      val rows = (0 until 20).map(i =>
        (Offset.serialize(9000000L, i.toLong), s"""{"bulk":$i}"""))
      rows.toDF("offset", "data").write.format("streamlog")
        .option("path", root).option("stream", "s1").mode("append").save()
      log.refresh()
      assert(log.consume(Offset.Beginning, 100).size == 35)

      // streaming sink: exactly-once epoch commits through the real
      // conditional-PUT wire, checkpoint restart adds no duplicates
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ms = MemoryStream[String](spark)
      val ckpt = Files.createTempDirectory("graft-s3-sink-ckpt").toString
      def start() = ms.toDF().select($"value".as("data"))
        .writeStream.format("streamlog")
        .option("path", root).option("stream", "s1")
        .option("checkpointLocation", ckpt)
        .start()
      val q = start()
      try {
        ms.addData((1 to 5).map(i => s"""{"s":$i}"""): _*)
        q.processAllAvailable()
      } finally q.stop()
      val q2 = start()
      try {
        ms.addData("""{"s":6}""")
        q2.processAllAvailable()
      } finally q2.stop()
      log.refresh()
      val got = log.consume(Offset.Beginning, 1000).map(_._2)
        .filter(_.contains("\"s\""))
      assert(got.sorted == (1 to 6).map(i => s"""{"s":$i}""").sorted,
        s"expected 6 unique sink records, got $got")
    }
  }

  test("kill -9 of a SECOND PROCESS holding the claim over the wire: survivor reclaims, zero loss") {
    // the posix kill-9 soak re-run with the bucket between the two
    // processes: the dying writer's claim is an If-Match PUT over a
    // real socket, its debris is an uncommitted object in the bucket,
    // and the survivor's takeover + orphan purge go through HTTP LIST
    // + DELETE — a machine loss in a shared-bucket deployment
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(8000000)
      val log = new StreamLog(spark, root, "s1")
      log.publish((1 to 5).map(i => s"""{"a":$i}"""), nowMs = c)
      val before = log.consume(Offset.Beginning, 100)

      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val pb = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
        "graft.streamlog.DyingWriter", root, "s1")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val claimed = Iterator.continually(reader.readLine())
        .takeWhile(_ != null).find(_.startsWith("CLAIMED"))
      assert(claimed.contains("CLAIMED 1"), s"subprocess said: $claimed")

      intercept[WriterFencedException](log.publish(Seq("""{"x":1}"""), nowMs = c))

      proc.destroyForcibly() // SIGKILL holding the claim
      assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))

      assert(log.claimWriter() == 2L)
      log.refresh()
      val report = log.maintain(orphanGraceMs = 0L, nowMs = c)
      assert(report.orphansPurged.contains("zzzz-uncommitted-merge.seg"),
        s"purged: ${report.orphansPurged}")
      assert(!srv.keys.contains("s1/segments/zzzz-uncommitted-merge.seg"))
      assert(log.consume(Offset.Beginning, 100) == before, "records lost")
      log.publish(Seq("""{"resumed":1}"""), nowMs = c)
      assert(log.consume(Offset.Beginning, 100).size == before.size + 1)
    }
  }

  // ------------------------------------------------------------------
  // SigV4 signing (r15): the server RE-DERIVES every signature from the
  // received request with the shared secret — 403 on any mismatch
  // ------------------------------------------------------------------

  private val testCreds = SigV4Credentials(
    "GRAFTTESTACCESSKEY00", "graft-test-secret-key/with+chars",
    region = "us-east-1", service = "s3")

  test("SigV4: signed CAS battery — server-side verification accepts every adapter request, rejects unsigned") {
    withServer(auth = Some(testCreds)) { srv =>
      // unsigned client against a signing-required server: 403 surfaces
      val unsigned = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      intercept[IllegalStateException](unsigned.readWithTag())
      assert(srv.authRejects >= 1)

      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl",
        Some(testCreds))
      val (l0, t0) = store.readWithTag()
      assert(l0.isEmpty && t0 == 0L)
      assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
      val (_, t1) = store.readWithTag()
      assert(!store.appendIf(t0, Seq(MetaJson.writer(99))), "stale tag: real 412")
      assert(store.appendIf(t1, Seq(MetaJson.version(5))))
      val (l2, t2) = store.readWithTag()
      assert(l2 == Vector(MetaJson.writer(1), MetaJson.version(5)))
      assert(store.replaceIf(t2, Seq(MetaJson.writer(8))))
      assert(store.probeTag() == store.readWithTag()._2, "HEAD signs too")
      store.clear()
      assert(store.readWithTag() == (Vector.empty, 0L))

      // segment plane: put/get/list/delete all signed, pagination signed
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(testCreds))
      (1 to 5).foreach(i => segs.put(s"seg$i.seg", s"line$i\n".getBytes))
      assert(new String(segs.get("seg3.seg")) == "line3\n")
      assert(segs.list().map(_.name) == (1 to 5).map(i => s"seg$i.seg"))
      segs.delete("seg2.seg")
      assert(segs.list().size == 4)
      val before = srv.authRejects
      assert(before == 1, s"only the unsigned probe was rejected: $before")
    }
  }

  test("SigV4: StreamLog end-to-end on a signed s3: root via the S3Auth registry") {
    withServer(auth = Some(testCreds)) { srv =>
      S3Auth.register(srv.endpoint, testCreds)
      try {
        val root = s"s3:${srv.endpoint}/b"
        val c = clock(7100000)
        val log = new StreamLog(spark, root, "s1")
        val offs = (1 to 3).flatMap(_ =>
          log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
        assert(log.consume(Offset.Beginning, 100).size == 12)
        // distributed read: executor tasks re-resolve creds from the
        // registry and sign their own GETs
        assert(log.readAfter(Offset.Beginning).count() == 12L)
        // DSv2 batch read over the signed root
        val df = spark.read.format("streamlog")
          .option("path", root).option("stream", "s1").load()
        assert(df.count() == 12)
        // compaction + maintenance: merged put, tombstone deletes, LIST
        // sweeps — all signed
        assert(log.compactOnce(nowMs = c).isDefined)
        log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = c)
        assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
        assert(srv.authRejects == 0, "a healthy signed run never 403s")
        // claim race through signed sockets
        assert(log.claimWriter() == 1L)
        intercept[WriterFencedException] {
          val other = new StreamLog(spark, root, "s1")
          other.claimWriter() // epoch 2 — fences the first handle
          log.publish(Seq("""{"x":1}"""), nowMs = c)
        }
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  // ------------------------------------------------------------------
  // Wire GET economy (r15): bodiless conditional-GET probes,
  // single-GET commits
  // ------------------------------------------------------------------

  test("conformance server: a GET whose If-None-Match names the ETag gets a bodiless 304; a stale one gets 200 with the body; HEAD is unchanged") {
    withServer() { srv =>
      val u = s"${srv.endpoint}/b/k"
      val body = "hello\n".getBytes("UTF-8")
      val etag = S3Http.send("PUT", u, body).etag.get
      val (g0, nm0) = (srv.gets, srv.notModified)
      val hit = S3Http.send("GET", u, headers = Seq("If-None-Match" -> etag))
      assert(hit.status == 304 && hit.body.isEmpty && hit.etag.contains(etag))
      assert(srv.gets - g0 == 1 && srv.notModified - nm0 == 1,
        "a 304 counts as a GET and as notModified")
      val stale = S3Http.send("GET", u, headers = Seq("If-None-Match" -> "\"0\""))
      assert(stale.status == 200 && stale.body.sameElements(body) &&
        stale.etag.contains(etag))
      assert(srv.notModified - nm0 == 1, "a 200 is not notModified")
      val h0 = srv.heads
      val head = S3Http.send("HEAD", u)
      assert(head.status == 200 && head.body.isEmpty && head.etag.contains(etag))
      assert(srv.heads - h0 == 1 && srv.notModified - nm0 == 1)
      assert(srv.hitCounts.keySet == Set("GET", "HEAD", "PUT", "DELETE"))
    }
  }

  test("idle probes carry no log body — every probe GET is a 304, zero PUTs") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(7200000)
      val log = new StreamLog(spark, root, "s1")
      log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c)
      val tip = log.lastOffset.get
      val (g0, p0, nm0) = (srv.gets, srv.puts, srv.notModified)
      val got = log.poll(tip, 10, timeoutMs = 400, intervalMs = 20)
      assert(got.isEmpty)
      val notModified = srv.notModified - nm0
      assert(notModified >= 2, s"expected repeated 304 probes, got $notModified")
      assert(srv.gets - g0 == notModified,
        s"an idle poll paid ${srv.gets - g0 - notModified} GETs answered with the log — " +
          "the r14 whole-log-GET-per-probe regression")
      assert(srv.puts == p0)
    }
  }

  test("same-handle publish fast-forwards the replay tag: the next poll probe replays nothing") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(7300000)
      val log = new StreamLog(spark, root, "s1")
      log.publish(Seq("""{"a":1}"""), nowMs = c)
      val tip = log.lastOffset.get
      // ADVICE r14: loadedTag used to stay at the pre-publish tag, so the
      // FIRST probe after a same-handle publish saw movement and paid a
      // full locked replay (a whole-log GET). With the fast-forward
      // every probe is a bodiless 304: the poll window costs zero GETs
      // answered with the log.
      val (g0, nm0) = (srv.gets, srv.notModified)
      assert(log.poll(tip, 10, timeoutMs = 200, intervalMs = 25).isEmpty)
      val bodies = (srv.gets - g0) - (srv.notModified - nm0)
      assert(bodies == 0,
        s"first-probe-after-publish paid $bodies GETs answered with the log — loadedTag not fast-forwarded")
      // an EXTERNAL commit still wakes the poller through the tag probe
      val other = new StreamLog(spark, root, "s1")
      val t = new Thread(() => { Thread.sleep(80); other.publish(Seq("""{"b":2}"""), nowMs = c); () })
      t.start()
      val got = log.poll(tip, 10, timeoutMs = 30000, intervalMs = 20)
      t.join()
      assert(got.map(_._2) == Seq("""{"b":2}"""))
    }
  }

  test("one uncontended metadata commit = exactly 1 GET + 1 PUT (the read is threaded into the conditional PUT)") {
    withServer() { srv =>
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      MetaCommits.claimWriter(store, 0L) // seed: log exists
      val (g0, p0) = (srv.gets, srv.puts)
      MetaCommits.fencedAppend(store, 1L, Seq(MetaJson.version(7)))
      assert(srv.gets - g0 == 1,
        s"uncontended commit paid ${srv.gets - g0} GETs (r14 paid 2: the loop's read + putIf's re-GET)")
      assert(srv.puts - p0 == 1)
      assert(MetaLog.replayLines(store.readWithTag()._1).producerVersion == 7L)

      // contended: an interloper commits between read and PUT — the 412
      // re-read path still pays exactly one extra (GET, PUT) round
      val interloper = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      val (cur, tag) = store.readWithTag()
      assert(cur.nonEmpty)
      assert(interloper.appendIf(interloper.readWithTag()._2,
        Seq(MetaJson.version(8))))
      val (g1, p1) = (srv.gets, srv.puts)
      // stale-tag append: cached body matches our tag, PUT loses 412
      assert(!store.appendIf(tag, Seq(MetaJson.version(9))))
      assert(srv.gets - g1 == 0 && srv.puts - p1 == 1,
        "the losing attempt reuses its cached read and pays only the PUT")
      // and the full commit loop converges with one more (GET, PUT)
      MetaCommits.fencedAppend(store, 1L, Seq(MetaJson.version(9)))
      assert(MetaLog.replayLines(store.readWithTag()._1).producerVersion == 9L)
    }
  }

  test("injected 409s and dropped responses still converge with the threaded single-GET commit") {
    withServer() { srv =>
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl")
      MetaCommits.claimWriter(store, 0L)
      srv.failPuts = 2
      MetaCommits.fencedAppend(store, 1L, Seq(MetaJson.version(3)))
      assert(MetaLog.replayLines(store.readWithTag()._1).producerVersion == 3L)
      srv.dropResponses = 1
      MetaCommits.fencedAppend(store, 1L, Seq(MetaJson.version(4)))
      assert(MetaLog.replayLines(store.readWithTag()._1).producerVersion == 4L)
    }
  }

  test("two-coordinator fleet soak over the s3: root with a server RESTART mid-soak — fences only, zero records lost") {
    import scala.jdk.CollectionConverters._
    // restart kills live connections -> transport retries; serialize
    // with the counter-exact suites (WireFaultSerial contract, r19)
    WireFaultSerial.synchronized(withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val names = (1 to 3).map(i => s"s$i")
      val errorsA = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
      val errorsB = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
      val compactedB = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

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

        val fleetB = StreamLogs.startMaintenance(spark, root, intervalMs = 100,
          onReport = (n, r) => if (r.compacted.nonEmpty) compactedB.add(n),
          onError = (n, e) => errorsB.add((n, e)))
        try {
          val epochsB = fleetB.claimWriters()
          assert(epochsB.keySet == names.toSet && epochsB.values.forall(_ >= 2))
          names.foreach { n =>
            val h = fleetB.open(n)
            expected(n) = expected(n) ++
              h.publish((1 to 3).map(i => s"""{"era":"b","i":$i}"""))
          }

          // ---- mid-soak endpoint restart: connections die, object
          // state (and therefore every content-derived ETag/tag)
          // survives; both daemons keep running through it
          srv.restart()

          names.foreach { n =>
            val h = fleetB.open(n)
            h.refresh()
            expected(n) = expected(n) ++
              h.publish((1 to 3).map(i => s"""{"era":"b2","i":$i}"""))
          }

          val deadline = System.currentTimeMillis() + 30000
          def fencedA = errorsA.asScala.exists(_._2.isInstanceOf[WriterFencedException])
          while ((!fencedA || compactedB.isEmpty) &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
          assert(fencedA, s"superseded coordinator never fenced; " +
            s"errors=${errorsA.asScala.map(_._2.getClass.getSimpleName).toSeq}")
          assert(compactedB.asScala.nonEmpty, "live coordinator never compacted")
          // A's failures: fences, plus (only around the restart) the
          // transient connection losses a real endpoint blip produces
          def transient(e: Throwable) = e.isInstanceOf[java.io.IOException] ||
            Option(e.getCause).exists(_.isInstanceOf[java.io.IOException])
          errorsA.asScala.foreach { case (n, e) =>
            assert(e.isInstanceOf[WriterFencedException] || transient(e),
              s"$n threw $e")
          }
          // B is the live writer: restart transients allowed, plus the
          // benign startup fence — B's sweeper starts BEFORE
          // claimWriters() lands, so its first pass can maintain a
          // not-yet-claimed (epoch 0) handle on a stream A already
          // claimed; the fence-backoff records it and B's claim clears
          // it (observed under full-suite machine load, where the
          // claim handshake window widens past one sweep)
          errorsB.asScala.foreach { case (n, e) =>
            assert(transient(e) || e.isInstanceOf[WriterFencedException],
              s"live coordinator $n threw $e")
          }
          intercept[WriterFencedException] {
            fleetA.open(names.head).publish(Seq("""{"era":"a-late"}"""))
          }
        } finally fleetB.close()
      } finally fleetA.close()

      // zero lost records across both eras AND the restart, from fresh
      // handles over fresh HTTP connections
      names.foreach { n =>
        val fresh = new StreamLog(spark, root, n)
        val got = fresh.consume(Offset.Beginning, 1000)
        assert(got.map(_._1) == expected(n),
          s"$n: expected ${expected(n).size} records, got ${got.size}")
      }
      assert(srv.authRejects == 0)
    })
  }

  // ------------------------------------------------------------------
  // STS session tokens (r16): temporary credentials sign
  // x-amz-security-token; the server REQUIRES and re-derives it
  // ------------------------------------------------------------------

  private val stsCreds = testCreds.copy(
    sessionToken = Some("IQoJb3JpZ2luX2VjEBYaDGdyYWZ0LXRlc3QtdG9rZW4hExample/Session+Token=="))

  test("STS: tokenless and wrong-token clients 403; the session-token battery runs CAS + claim race + lifecycle + DSv2 end-to-end") {
    withServer(auth = Some(stsCreds)) { srv =>
      // long-lived-key client (no token) against an STS-required server
      val tokenless = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl",
        Some(testCreds))
      intercept[IllegalStateException](tokenless.readWithTag())
      val wrongTok = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl",
        Some(testCreds.copy(sessionToken = Some("forged-token"))))
      intercept[IllegalStateException](wrongTok.readWithTag())
      assert(srv.authRejects >= 2)

      // CAS battery with session-token credentials
      val store = new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl",
        Some(stsCreds))
      assert(store.readWithTag() == (Vector.empty, 0L))
      assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
      val (_, t1) = store.readWithTag()
      assert(!store.appendIf(0L, Seq(MetaJson.writer(9))), "create-only refused")
      assert(store.appendIf(t1, Seq(MetaJson.version(5))))
      assert(store.probeTag() == store.readWithTag()._2, "HEAD signs the token too")
      store.clear()

      // claim race: 8 token-signed HTTP claimants serialize to 1..8
      val epochs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = (1 to 8).map { _ =>
        new Thread(() => epochs.add(MetaCommits.claimWriter(
          new S3MetaStore(srv.endpoint, "b", "s1/meta.jsonl", Some(stsCreds)), 0L)))
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(epochs.asScala.toSeq.sorted == (1L to 8L), s"epochs: $epochs")

      // full lifecycle + DSv2 through the S3Auth registry — executors
      // re-resolve the SAME session credentials from the plan snapshot
      S3Auth.register(srv.endpoint, stsCreds)
      try {
        val root = s"s3:${srv.endpoint}/b"
        val c = clock(7500000)
        val log = new StreamLog(spark, root, "s2")
        val offs = (1 to 3).flatMap(_ =>
          log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
        assert(log.consume(Offset.Beginning, 100).size == 12)
        assert(log.readAfter(Offset.Beginning).count() == 12L)
        val df = spark.read.format("streamlog")
          .option("path", root).option("stream", "s2").load()
        assert(df.count() == 12)
        assert(log.compactOnce(nowMs = c).isDefined)
        log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = c)
        assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
        val rejectsBefore = srv.authRejects
        log.destroy()
        assert(srv.keys.forall(!_.startsWith("s2/")), "destroy sweeps the prefix")
        assert(srv.authRejects == rejectsBefore,
          "a healthy session-token run never 403s")
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  // ------------------------------------------------------------------
  // Credential rotation (r17): a registered CredentialProvider rides
  // STS token expiry mid-job — 403 → ONE re-resolve → retry
  // ------------------------------------------------------------------

  test("credential rotation mid-battery: cached token 403s once, provider re-resolves, publish -> rotate -> compaction continues with zero failures") {
    val tokA = testCreds.copy(sessionToken = Some("sts-token-A"))
    val tokB = testCreds.copy(sessionToken = Some("sts-token-B"))
    withServer(auth = Some(tokA)) { srv =>
      val current = new java.util.concurrent.atomic.AtomicReference(tokA)
      val resolves = new java.util.concurrent.atomic.AtomicInteger(0)
      S3Auth.registerProvider(srv.endpoint, new CredentialProvider {
        override def resolve(): SigV4Credentials = {
          resolves.incrementAndGet(); current.get()
        }
      }, ttlMs = 3600000L) // long TTL: only an expired-token 403 forces re-resolution
      try {
        val root = s"s3:${srv.endpoint}/b"
        val c = clock(8500000)
        val log = new StreamLog(spark, root, "s1")
        val offs1 = (1 to 3).flatMap(_ =>
          log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
        assert(srv.authRejects == 0)
        assert(resolves.get() >= 1, "requests resolve through the provider")

        // rotation, in the real STS order: the fresher token is ISSUED
        // first (provider), then the old one EXPIRES (server). The
        // long TTL pins the stale cache, so the next request 403s
        // exactly once, re-resolves, retries — and the SAME long-lived
        // handle continues: the 6-hour-compaction-fleet scenario that
        // died on 403 mid-run before r17.
        current.set(tokB)
        srv.rotate(tokB)
        val rejects0 = srv.authRejects
        val offs2 = log.publish((1 to 4).map(i => s"""{"x":$i}"""), nowMs = c)
        assert(log.compactOnce(nowMs = c).isDefined,
          "compaction continues across the rotation")
        log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = c)
        assert(log.consume(Offset.Beginning, 100).map(_._1) == offs1 ++ offs2,
          "zero loss across the rotation")
        assert(srv.authRejects > rejects0,
          "the stale cached token must 403 once — the refresh trigger")
        assert(srv.authRejects - rejects0 <= 4,
          s"one re-resolve per stale request, not a 403 storm: ${srv.authRejects - rejects0}")

        // a SECOND rotation, then a DSv2 read: executor tasks inherit
        // the provider through the plan-time AuthSnapshot and refresh
        // on their side
        current.set(tokA)
        srv.rotate(tokA)
        val df = spark.read.format("streamlog")
          .option("path", root).option("stream", "s1").load()
        assert(df.collect().length == 16)
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  test("rotation composes with multipart upload: a 403 inside the MPU sequence refreshes once and the upload completes — no abort") {
    // the round's two features composed: the token expires while a
    // multipart upload is in flight (cache primed with the old token,
    // server already rotated) — the first MPU request 403s, refreshes
    // through the provider, and the WHOLE protocol (initiate + parts +
    // complete) finishes signed with the fresh token instead of
    // aborting a multi-GiB upload over an auth blip
    val tokA = testCreds.copy(sessionToken = Some("mpu-rot-A"))
    val tokB = testCreds.copy(sessionToken = Some("mpu-rot-B"))
    withServer(auth = Some(tokA)) { srv =>
      val current = new java.util.concurrent.atomic.AtomicReference(tokA)
      S3Auth.registerProvider(srv.endpoint, new CredentialProvider {
        override def resolve(): SigV4Credentials = current.get()
      }, ttlMs = 3600000L)
      try {
        val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
          S3AuthRef.Registry(srv.endpoint),
          multipartThresholdBytes = 8L * 1024 * 1024,
          multipartPartBytes = 5L * 1024 * 1024)
        assert(S3Auth.forEndpoint(srv.endpoint).contains(tokA)) // prime cache
        current.set(tokB)
        srv.rotate(tokB)
        val data = new Array[Byte](11 * 1024 * 1024)
        new java.util.Random(3).nextBytes(data)
        val spool = Files.createTempFile("graft-mpu-rot", ".seg")
        try {
          Files.write(spool, data)
          val rejects0 = srv.authRejects
          segs.putFromFile("rot.seg", spool)
          assert(srv.authRejects - rejects0 == 1,
            s"exactly one 403 (the refresh trigger) for the whole upload, " +
              s"got ${srv.authRejects - rejects0}")
          assert(srv.pendingUploads == 0)
          assert(java.util.Arrays.equals(segs.get("rot.seg"), data),
            "bit-identical through the rotation")
        } finally Files.deleteIfExists(spool)
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  test("a provider still serving the expired token gets ONE forced re-resolve then fails loudly — no retry loop") {
    val tokA = testCreds.copy(sessionToken = Some("sts-stale-A"))
    val tokB = testCreds.copy(sessionToken = Some("sts-stale-B"))
    withServer(auth = Some(tokA)) { srv =>
      val resolves = new java.util.concurrent.atomic.AtomicInteger(0)
      S3Auth.registerProvider(srv.endpoint, new CredentialProvider {
        override def resolve(): SigV4Credentials = {
          resolves.incrementAndGet(); tokA // never rotates — misconfigured
        }
      }, ttlMs = 0L)
      try {
        val store = StreamStores.metaStore(s"s3:${srv.endpoint}/b", "s1")
        assert(store.appendIf(0L, Seq(MetaJson.writer(1))))
        srv.rotate(tokB) // tokA is now expired; the provider is stuck on it
        val r0 = resolves.get()
        val rej0 = srv.authRejects
        intercept[IllegalStateException](store.readWithTag())
        assert(srv.authRejects - rej0 == 1,
          s"a same-token refresh must NOT retry on the wire: " +
            s"${srv.authRejects - rej0} rejected attempts")
        assert(resolves.get() == r0 + 2,
          "the per-request resolve plus exactly one forced refresh")
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  test("a FRESH JVM with an empty credential registry reads a signed segment through the partition's snapshot alone") {
    // the cluster condition ADVICE r15 called uncatchable in local
    // mode: a real executor JVM has an EMPTY S3Auth registry, and the
    // only credential source is the snapshot the serialized partition
    // carries. The subprocess asserts its registry is empty, builds
    // the partition + reader exactly as a deserialized task would, and
    // must stream the rows signed — with STS session-token creds.
    withServer(auth = Some(stsCreds)) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds))
      val off = Offset.serialize(1000, 0)
      segs.put(s"$off-exec.seg",
        (0 until 7).map(i => Offset.serialize(1000, i.toLong) + s"""{"i":$i}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))

      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val pb = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
        "graft.streamlog.FreshJvmReader", srv.endpoint, "b", "s1",
        s"$off-exec.seg", stsCreds.accessKey, stsCreds.secretKey,
        stsCreds.sessionToken.get)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), out)
      assert(proc.exitValue() == 0, s"reader subprocess failed:\n$out")
      assert(out.contains("ROWS 7"), s"subprocess said:\n$out")
      assert(srv.authRejects == 0,
        "the fresh JVM must have signed every request from the snapshot")
    }
  }

  test("a FRESH JVM refreshes a ROTATED token through the java-serialized snapshot's provider alone") {
    // the provider-inheritance path made real across a process
    // boundary (the in-JVM registry simulation cannot prove
    // serialization): the subprocess's ONLY credential source is a
    // java-serialized AuthSnapshot whose plan-time resolution is
    // ALREADY STALE — the parent rotated the server (and the
    // credentials file the provider re-reads) after taking it. The
    // read must 403 once, refresh through the DESERIALIZED
    // FileBackedProvider, and stream the rows signed.
    val tokA = testCreds.copy(sessionToken = Some("fresh-rot-A"))
    val tokB = testCreds.copy(sessionToken = Some("fresh-rot-B"))
    withServer(auth = Some(tokA)) { srv =>
      def writeCreds(c: SigV4Credentials, path: java.nio.file.Path): Unit =
        Files.write(path,
          s"${c.accessKey}\n${c.secretKey}\n${c.sessionToken.get}".getBytes("UTF-8")): Unit
      val credsFile = Files.createTempFile("graft-rot-creds", ".txt")
      val snapFile = Files.createTempFile("graft-rot-snap", ".bin")
      try {
        writeCreds(tokA, credsFile)
        S3Auth.registerProvider(srv.endpoint,
          new FileBackedProvider(credsFile.toString), ttlMs = 3600000L)
        try {
          val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
            S3AuthRef.Registry(srv.endpoint))
          val off = Offset.serialize(1000, 0)
          segs.put(s"$off-rot.seg",
            (0 until 5).map(i => Offset.serialize(1000, i.toLong) + s"""{"i":$i}""")
              .mkString("", "\n", "\n").getBytes("UTF-8"))
          // the plan-time snapshot resolves tok A and carries the provider
          val snap = StreamStores.s3AuthFor(s"s3:${srv.endpoint}/b").get
          assert(snap.creds == tokA && snap.provider.isDefined)
          val out0 = new java.io.ObjectOutputStream(Files.newOutputStream(snapFile))
          try out0.writeObject(snap) finally out0.close()
          // ROTATE after the snapshot: its resolution is now stale
          writeCreds(tokB, credsFile)
          srv.rotate(tokB)

          val rejects0 = srv.authRejects
          val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
          val pb = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
            "graft.streamlog.FreshJvmRotatingReader", srv.endpoint, "b", "s1",
            s"$off-rot.seg", snapFile.toString)
          pb.redirectErrorStream(true)
          val proc = pb.start()
          val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
          assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), out)
          assert(proc.exitValue() == 0, s"rotating reader failed:\n$out")
          assert(out.contains("ROWS 5"), s"subprocess said:\n$out")
          assert(srv.authRejects - rejects0 == 1,
            "exactly one 403 — the stale snapshot resolution triggering " +
              "the deserialized provider's refresh")
        } finally S3Auth.unregister(srv.endpoint)
      } finally {
        Files.deleteIfExists(credsFile)
        Files.deleteIfExists(snapFile)
        ()
      }
    }
  }

  // ------------------------------------------------------------------
  // Range-streaming reads (r16): chunked HTTP Range GETs, byte-level
  // line reassembly, early-exit economy
  // ------------------------------------------------------------------

  test("range-streaming linesIterator: 7-byte chunks reassemble multi-byte UTF-8 lines exactly; early exit stops fetching") {
    withServer() { srv =>
      // chunk far below line size forces splits INSIDE lines and INSIDE
      // multi-byte UTF-8 sequences (é, 汉字, emoji)
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        rangeChunkBytes = 7)
      val lines = Vector("""{"a":"héllo"}""", """{"b":"汉字テスト"}""",
        """{"c":"🎉🎊"}""", """{"d":1}""")
      segs.put("u.seg", lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(segs.linesIterator("u.seg").toVector == lines)
      assert(srv.rangeGets > 1, "must have taken multiple ranged requests")
      // whole-object getLines agrees (the two paths decode identically)
      assert(segs.getLines("u.seg") == lines)

      // early exit: taking 1 line of a 1000-line object must not fetch
      // the tail — with a 64B chunk a full read would need ~hundreds of
      // range GETs; taking one line costs a handful
      val big = (1 to 1000).map(i => s"""{"i":$i,"pad":"xxxxxxxxxxxxxxxx"}""")
      val segs64 = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        rangeChunkBytes = 64)
      segs64.put("big.seg", big.mkString("", "\n", "\n").getBytes("UTF-8"))
      val before = srv.rangeGets
      val firstTwo = segs64.linesIterator("big.seg").take(2).toVector
      assert(firstTwo == big.take(2).toVector)
      // 2 lines span <= 2 chunks; the r19 readahead window may hold
      // PrefetchDepth more in flight — the documented early-exit bound
      // is consumed + depth, still a handful against ~hundreds
      assert(srv.rangeGets - before <= 2 + S3SegmentStore.PrefetchDepth,
        s"early exit paid ${srv.rangeGets - before} range GETs for 2 lines")
      // an iterator past EOF terminates via 416
      assert(segs64.linesIterator("big.seg").size == 1000)
      intercept[java.nio.file.NoSuchFileException](
        segs.linesIterator("absent.seg").hasNext)
    }
  }

  test("exact-chunk-multiple object reads issue zero trailing 416s on both readers") {
    withServer() { srv =>
      // 64 lines x 64 bytes = 4096 = exactly 4 x 1024-byte chunks: the
      // last chunk is FULL, so before the r19 ADVICE fix the reader
      // could not tell EOF from more-to-come and issued one more GET
      // that 416'd — one wasted round trip per read of any object
      // whose length is an exact chunk multiple. With the Content-Range
      // total in hand the reader now stops at pos == total.
      val lines = (1 to 64).map(i => f"$i%02d" + "x" * 61).toVector // 63B + \n
      val body = lines.mkString("", "\n", "\n").getBytes("UTF-8")
      assert(body.length == 4096, s"fixture drifted: ${body.length}")
      val pre = new S3SegmentStore(srv.endpoint, "b", "m/",
        rangeChunkBytes = 1024)
      val ser = new S3SegmentStore(srv.endpoint, "b", "m/",
        rangeChunkBytes = 1024, rangePrefetch = false)
      pre.put("m.seg", body)
      for ((segs, name) <- Seq((pre, "prefetch"), (ser, "serial"))) {
        val g0 = srv.rangeGets
        val e0 = srv.range416s
        assert(segs.linesIterator("m.seg").toVector == lines, name)
        assert(srv.rangeGets - g0 == 4,
          s"$name reader issued ${srv.rangeGets - g0} range GETs for 4 chunks")
        assert(srv.range416s == e0,
          s"$name reader issued a trailing past-EOF GET (416) despite " +
            "knowing the object length from Content-Range")
      }
    }
  }

  test("range readahead pipelines an RTT-bound multi-chunk read ~(depth)x and never reads past EOF or out of order") {
    withServer() { srv =>
      // ~24 chunks of 1 KiB behind a 20ms simulated RTT: the serial
      // reader pays 24 round trips (~480ms); the depth-3 window keeps
      // 3 in flight, so the pipelined wall is ~RTT*ceil(24/3)+RTT
      // (~180ms). Asserting the MIDPOINT keeps the gate robust to CI
      // load while still impossible for a serial reader to pass.
      val lines = (1 to 1280).map(i => f"line-$i%05d-xxxxxxxxxx") // 18+1 B each
      val body = lines.mkString("", "\n", "\n").getBytes
      val segs = new S3SegmentStore(srv.endpoint, "b", "p/",
        rangeChunkBytes = 1024)
      val serial = new S3SegmentStore(srv.endpoint, "b", "p/",
        rangeChunkBytes = 1024, rangePrefetch = false)
      segs.put("r.seg", body)
      val nChunks = (body.length + 1023) / 1024
      assert(nChunks >= 20, s"fixture too small: $nChunks chunks")

      srv.responseDelayMs = 20
      try {
        val t0 = System.nanoTime()
        assert(serial.linesIterator("r.seg").toVector == lines)
        val serialMs = (System.nanoTime() - t0) / 1e6
        val g0 = srv.rangeGets
        val t1 = System.nanoTime()
        assert(segs.linesIterator("r.seg").toVector == lines,
          "prefetched read must be byte-identical (order preserved)")
        val prefetchMs = (System.nanoTime() - t1) / 1e6
        // exact wire economy: Content-Range plans the window, so the
        // prefetching read issues EXACTLY the chunks that exist
        assert(srv.rangeGets - g0 == nChunks,
          s"prefetch issued ${srv.rangeGets - g0} GETs for $nChunks chunks")
        assert(prefetchMs < serialMs * 0.6,
          f"readahead did not pipeline: serial $serialMs%.0fms vs " +
            f"prefetch $prefetchMs%.0fms over $nChunks chunks")
      } finally srv.responseDelayMs = 0

      // early exit: a 2-line take stops issuing within PrefetchDepth
      // chunks of its limit (the documented speculative bound)
      val g1 = srv.rangeGets
      assert(segs.linesIterator("r.seg").take(2).toVector == lines.take(2))
      assert(srv.rangeGets - g1 <= 1 + S3SegmentStore.PrefetchDepth,
        s"early exit paid ${srv.rangeGets - g1} range GETs")

      // the digest wrapper composes unchanged over the pipelined reads
      val sha = SegmentIntegrity.sha256Hex(body)
      assert(SegmentIntegrity.verified("r.seg", sha,
        segs.linesIterator("r.seg")).toVector == lines)
      val bad = "0" * 64
      intercept[CorruptSegmentException](
        SegmentIntegrity.verified("r.seg", bad,
          segs.linesIterator("r.seg")).toVector)
    }
  }

  test("DSv2 batch read over a bucket root streams segments through Range GETs — no whole-object materialization") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(7600000)
      val log = new StreamLog(spark, root, "s1")
      (1 to 4).foreach(_ =>
        log.publish((1 to 50).map(i => s"""{"i":$i}"""), nowMs = c))
      val before = srv.rangeGets
      val df = spark.read.format("streamlog")
        .option("path", root).option("stream", "s1").load()
      // NOT df.count(): COUNT(*) is answered from segment METADATA
      // (complete agg pushdown — zero files opened, zero GETs of any
      // kind); materialize actual rows to drive the reading tasks
      assert(df.collect().length == 200)
      assert(srv.rangeGets > before,
        "the DSv2 reading tasks must use the range-streaming path")
      // driver-side consume with a limit also rides ranges
      val b2 = srv.rangeGets
      assert(log.consume(Offset.Beginning, 3).size == 3)
      assert(srv.rangeGets > b2)
    }
  }

  // ------------------------------------------------------------------
  // Presigned URLs (r16 stretch): query-string auth end-to-end
  // ------------------------------------------------------------------

  test("presigned URL: a bare uncredentialed HTTP client reads the object; tampered or expired URLs 403") {
    withServer(auth = Some(stsCreds)) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds))
      segs.put("share.seg", "shared-bytes\n".getBytes("UTF-8"))

      val url = SigV4.presignUrl(stsCreds, "GET",
        s"${srv.endpoint}/b/s1/segments/share.seg", 300)
      val client = java.net.http.HttpClient.newHttpClient()
      def fetch(u: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(u)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      val ok = fetch(url)
      assert(ok.statusCode() == 200)
      assert(new String(ok.body(), "UTF-8") == "shared-bytes\n")

      // flip one signature nibble → 403
      val tampered = url.dropRight(1) + (if (url.last == '0') '1' else '0')
      assert(fetch(tampered).statusCode() == 403)
      // expired (issued 400s ago, valid 300s) → 403
      val expired = SigV4.presignUrl(stsCreds, "GET",
        s"${srv.endpoint}/b/s1/segments/share.seg", 300,
        java.time.Instant.now().minusSeconds(400))
      assert(fetch(expired).statusCode() == 403)
      // presigned with the WRONG secret → 403
      val forged = SigV4.presignUrl(stsCreds.copy(secretKey = "wrong"), "GET",
        s"${srv.endpoint}/b/s1/segments/share.seg", 300)
      assert(fetch(forged).statusCode() == 403)

      // presigned + Range compose: Range is an UNSIGNED header (SigV4
      // permits), so the same shared URL serves partial reads — the
      // consumer shape for a shipped corpus segment: no credentials,
      // no whole-object transfer
      val ranged = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Range", "bytes=0-5").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(ranged.statusCode() == 206)
      assert(new String(ranged.body(), "UTF-8") == "shared")
    }
  }

  // ------------------------------------------------------------------
  // S3 single-PUT ceiling (r16)
  // ------------------------------------------------------------------

  test("the single-PUT ceiling refusal fires only on the single-PUT path (a misconfigured threshold), before any bytes cross the wire") {
    withServer() { srv =>
      // threshold ABOVE the ceiling = misconfiguration: the oversized
      // spool is routed to the single-PUT path, which refuses with
      // guidance. With the DEFAULT threshold (= the ceiling) the same
      // spool takes the multipart path instead (r17).
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        multipartThresholdBytes = 6L * 1024 * 1024 * 1024)
      val sparse = Files.createTempFile("graft-sparse", ".seg")
      try {
        val raf = new java.io.RandomAccessFile(sparse.toFile, "rw")
        try raf.setLength(5L * 1024 * 1024 * 1024 + 1) finally raf.close()
        val puts0 = srv.puts
        val e = intercept[IllegalArgumentException](
          segs.putFromFile("huge.seg", sparse))
        assert(e.getMessage.contains("5 GiB"), e.getMessage)
        assert(e.getMessage.contains("multipartThresholdBytes"),
          "message must carry guidance to the multipart path")
        assert(srv.puts == puts0, "nothing crossed the wire")
        assert(Files.exists(sparse), "the refused spool is kept")
        // at the ceiling exactly: allowed (boundary is inclusive)
        val raf2 = new java.io.RandomAccessFile(sparse.toFile, "rw")
        try raf2.setLength(16) finally raf2.close()
        segs.putFromFile("ok.seg", sparse)
        assert(segs.get("ok.seg").length == 16)
      } finally Files.deleteIfExists(sparse)
    }
  }

  // ------------------------------------------------------------------
  // Multipart upload (r17): the documented S3 path above the
  // single-PUT ceiling — initiate / UploadPart / complete, signed per
  // request, abort-on-failure
  // ------------------------------------------------------------------

  test("multipart upload above the threshold: signed parts round-trip bit-identically; below it the single-PUT path is untouched") {
    withServer(auth = Some(stsCreds)) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds),
        multipartThresholdBytes = 8L * 1024 * 1024,
        multipartPartBytes = 5L * 1024 * 1024)
      // 10.5 MiB -> parts of 5 + 5 + 0.5 MiB (the last may be small)
      val size = 10 * 1024 * 1024 + 512 * 1024
      val data = new Array[Byte](size)
      new java.util.Random(17).nextBytes(data)
      val spool = Files.createTempFile("graft-mpu", ".seg")
      try {
        Files.write(spool, data)
        val posts0 = srv.posts
        segs.putFromFile("big.seg", spool)
        assert(!Files.exists(spool), "spool consumed on success")
        assert(srv.posts - posts0 == 2, "exactly initiate + complete")
        assert(srv.pendingUploads == 0, "no billable parts left behind")
        val back = segs.get("big.seg")
        assert(back.length == size && java.util.Arrays.equals(back, data),
          "bit-identical round-trip through three parts")
        // the landed object carries the documented multipart ETag form
        // (md5-of-part-md5s + "-<n>"); the MetaStore tag fold over the
        // ETag string is form-agnostic
        val head = S3Http.send("HEAD",
          s"${srv.endpoint}/b/s1/segments/big.seg", auth = Some(stsCreds))
        assert(head.etag.exists(_.endsWith("-3\"")), s"etag: ${head.etag}")

        // below the threshold: plain streamed PUT, no control plane
        val spool2 = Files.createTempFile("graft-small", ".seg")
        Files.write(spool2, "small\n".getBytes("UTF-8"))
        val p0 = srv.posts
        segs.putFromFile("small.seg", spool2)
        assert(srv.posts == p0, "below threshold: no multipart POSTs")
        assert(new String(segs.get("small.seg"), "UTF-8") == "small\n")
        assert(srv.authRejects == 0,
          "every part PUT and control POST was correctly signed")
      } finally Files.deleteIfExists(spool)
    }
  }

  test("a transient part failure retries IN PLACE; a part failing twice aborts cleanly: no pending parts, no object, spool kept") {
    withServer() { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        multipartThresholdBytes = 8L * 1024 * 1024,
        multipartPartBytes = 5L * 1024 * 1024)
      val data = new Array[Byte](11 * 1024 * 1024)
      new java.util.Random(7).nextBytes(data)
      val spool = Files.createTempFile("graft-mpu-fault", ".seg")
      try {
        // ONE transient 409 on a part: retried in place (the SDK
        // behavior) — the upload completes, no abort, bit-identical
        Files.write(spool, data)
        srv.failPuts = 1
        segs.putFromFile("blip.seg", spool)
        assert(java.util.Arrays.equals(segs.get("blip.seg"), data),
          "one 409 blip must not abort a multipart upload")
        assert(srv.pendingUploads == 0)

        // the SAME part failing twice (fault + its in-place retry)
        // aborts the whole upload cleanly — pinned by PART NUMBER so
        // the gate stays deterministic under parallel parts (r18)
        Files.write(spool, data)
        srv.failPartNumbers409 = Set(2)
        intercept[IllegalStateException](
          segs.putFromFile("fault.seg", spool))
        assert(srv.partPutCount(2) >= 2,
          "the transient 409 must be retried in place before aborting")
        assert(srv.pendingUploads == 0,
          "abort must remove the pending upload — no billable parts")
        intercept[java.nio.file.NoSuchFileException](segs.get("fault.seg"))
        assert(Files.exists(spool), "spool kept for the caller's retry")
        // the caller's retry (same spool, same name) lands whole
        srv.failPartNumbers409 = Set.empty
        segs.putFromFile("fault.seg", spool)
        assert(segs.get("fault.seg").length == data.length)
        assert(srv.pendingUploads == 0)
      } finally Files.deleteIfExists(spool)
    }
  }

  test("parallel multipart: 9 parts with 8 in flight round-trip bit-identically; out-of-order part upload is legal") {
    withServer(auth = Some(stsCreds)) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds),
        multipartThresholdBytes = 8L * 1024 * 1024,
        multipartPartBytes = 5L * 1024 * 1024,
        multipartConcurrency = 8)
      // 41 MiB -> 8 full parts + a 1 MiB tail = 9 parts, so the pool
      // genuinely runs 8 concurrent sends
      val size = 41 * 1024 * 1024
      val data = new Array[Byte](size)
      new java.util.Random(99).nextBytes(data)
      val spool = Files.createTempFile("graft-mpu-par", ".seg")
      try {
        Files.write(spool, data)
        val posts0 = srv.posts
        segs.putFromFile("par.seg", spool)
        assert(srv.posts - posts0 == 2, "exactly initiate + complete")
        assert(srv.pendingUploads == 0)
        val back = segs.get("par.seg")
        assert(java.util.Arrays.equals(back, data),
          "bit-identical through 8-way-parallel parts")
        val head = S3Http.send("HEAD",
          s"${srv.endpoint}/b/s1/segments/par.seg", auth = Some(stsCreds))
        assert(head.etag.exists(_.endsWith("-9\"")), s"etag: ${head.etag}")
        assert(srv.authRejects == 0, "every concurrent part signed cleanly")
      } finally Files.deleteIfExists(spool)

      // out-of-order UPLOAD order is legal — the manifest, not arrival
      // order, fixes assembly (the property that licenses parallel
      // parts at all); proven against the server directly
      val u = s"${srv.endpoint}/b/s1/segments/ooo.seg"
      val init = S3Http.send("POST", s"$u?uploads", auth = Some(stsCreds))
      val id = "<UploadId>(.*?)</UploadId>".r
        .findFirstMatchIn(new String(init.body, "UTF-8")).get.group(1)
      val big = new Array[Byte](5 * 1024 * 1024)
      java.util.Arrays.fill(big, 'a'.toByte)
      // part 2 arrives BEFORE part 1
      val p2 = S3Http.send("PUT", s"$u?partNumber=2&uploadId=$id",
        "tail\n".getBytes("UTF-8"), auth = Some(stsCreds))
      val p1 = S3Http.send("PUT", s"$u?partNumber=1&uploadId=$id", big,
        auth = Some(stsCreds))
      assert(p1.status == 200 && p2.status == 200)
      val done = S3Http.send("POST", s"$u?uploadId=$id",
        (s"<CompleteMultipartUpload><Part><PartNumber>1</PartNumber>" +
          s"<ETag>${p1.etag.get}</ETag></Part><Part><PartNumber>2</PartNumber>" +
          s"<ETag>${p2.etag.get}</ETag></Part></CompleteMultipartUpload>")
          .getBytes("UTF-8"), auth = Some(stsCreds))
      assert(done.status == 200, new String(done.body, "UTF-8"))
      val back = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds)).get("ooo.seg")
      assert(back.length == big.length + 5 &&
        new String(back.takeRight(5), "UTF-8") == "tail\n",
        "assembly follows manifest order despite reversed upload order")
    }
  }

  test("concurrent-failure abort: one part failing mid-flight cancels peers and aborts — no pending upload, no object, spool kept; a deterministic 4xx aborts with ZERO re-upload") {
    withServer() { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        multipartThresholdBytes = 8L * 1024 * 1024,
        multipartPartBytes = 5L * 1024 * 1024,
        multipartConcurrency = 4)
      val data = new Array[Byte](26 * 1024 * 1024) // 6 parts
      new java.util.Random(3).nextBytes(data)
      val spool = Files.createTempFile("graft-mpu-cfail", ".seg")
      try {
        // part 3 persistently 409s: its in-place retry fails too, the
        // first failure wins while peers are in flight, and the abort
        // leaves nothing billable
        Files.write(spool, data)
        srv.failPartNumbers409 = Set(3)
        val e = intercept[IllegalStateException](
          segs.putFromFile("cfail.seg", spool))
        assert(e.getMessage.contains("failed twice"), e.getMessage)
        assert(srv.partPutCount(3) == 2,
          s"one transient retry exactly: ${srv.partPutCount(3)}")
        assert(srv.pendingUploads == 0, "peers cancelled, upload aborted")
        intercept[java.nio.file.NoSuchFileException](segs.get("cfail.seg"))
        assert(Files.exists(spool), "spool kept for the caller's retry")
        srv.failPartNumbers409 = Set.empty

        // ADVICE r17 #2: a deterministic 4xx (400 InvalidArgument)
        // aborts IMMEDIATELY with the server's error body — exactly
        // one PUT for that part, no guaranteed-to-fail re-upload of up
        // to a full part
        val srv2 = new S3LiteServer()
        try {
          val segs2 = new S3SegmentStore(srv2.endpoint, "b", "s1/segments/",
            multipartThresholdBytes = 8L * 1024 * 1024,
            multipartPartBytes = 5L * 1024 * 1024,
            multipartConcurrency = 1)
          srv2.failPartNumbers400 = Set(2)
          val e2 = intercept[IllegalStateException](
            segs2.putFromFile("det.seg", spool))
          assert(e2.getMessage.contains("400") &&
            e2.getMessage.contains("InvalidArgument"),
            s"the server's error body must surface: ${e2.getMessage}")
          assert(srv2.partPutCount(2) == 1,
            s"a deterministic 4xx must NOT be re-uploaded: ${srv2.partPutCount(2)}")
          assert(srv2.pendingUploads == 0)
          assert(Files.exists(spool))
        } finally srv2.stop()
      } finally Files.deleteIfExists(spool)
    }
  }

  test("quiescence guard: a spool that GROWS mid-upload fails loud before complete — nothing billable, nothing assembled (ADVICE r17)") {
    withServer() { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        multipartThresholdBytes = 8L * 1024 * 1024,
        multipartPartBytes = 5L * 1024 * 1024,
        multipartConcurrency = 1) // serial: the append lands well before the final size re-check
      val data = new Array[Byte](26 * 1024 * 1024) // 6 parts of wire time
      new java.util.Random(11).nextBytes(data)
      val spool = Files.createTempFile("graft-mpu-grow", ".seg")
      try {
        Files.write(spool, data)
        val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
        val t = new Thread(() => {
          try segs.putFromFile("grow.seg", spool)
          catch { case e: Throwable => thrown.set(e) }
        })
        val p0 = srv.puts
        t.start()
        // wait until the upload is demonstrably mid-flight, then grow
        // the spool under it
        val deadline = System.currentTimeMillis() + 30000
        while (srv.puts == p0 && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        assert(srv.puts > p0, "upload never started")
        java.nio.file.Files.write(spool, "late-grown-bytes".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.APPEND)
        t.join(120000)
        assert(!t.isAlive, "upload thread hung")
        val e = thrown.get()
        assert(e != null, "a grown spool must fail the upload")
        assert(e.getMessage.contains("changed size mid-upload"), e.getMessage)
        assert(srv.pendingUploads == 0, "the grown upload aborted cleanly")
        intercept[java.nio.file.NoSuchFileException](segs.get("grow.seg"))
        assert(Files.exists(spool), "spool kept")
      } finally Files.deleteIfExists(spool)
    }
  }

  test("deleteMany surfaces per-key failures with key and code; the other keys in the batch still delete") {
    withServer() { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "p/")
      (1 to 4).foreach(i => segs.put(s"x$i.seg", s"x$i\n".getBytes))
      srv.failDeleteKeys = Set("p/x2.seg", "p/x4.seg")
      val e = intercept[IllegalArgumentException](
        segs.deleteMany(Seq("x1.seg", "x2.seg", "x3.seg", "x4.seg")))
      assert(e.getMessage.contains("x2.seg (InternalError)") &&
        e.getMessage.contains("x4.seg (InternalError)") &&
        e.getMessage.contains("2 key(s)"),
        s"failed keys and codes must surface: ${e.getMessage}")
      srv.failDeleteKeys = Set.empty
      assert(segs.list().map(_.name) == Seq("x2.seg", "x4.seg"),
        "the non-injected keys in the batch deleted despite the failures")
      segs.deleteMany(Seq("x2.seg", "x4.seg"))
      assert(segs.list().isEmpty)
    }
  }

  test("server enforces the documented part rules: EntityTooSmall, InvalidPart, small-final-part legal, unknown uploadId 404") {
    withServer() { srv =>
      // hand-rolled MPU — the client's 5 MiB partBytes floor prevents
      // driving these misuses through S3SegmentStore itself
      val u = s"${srv.endpoint}/b/s1/segments/tiny.seg"
      val init = S3Http.send("POST", s"$u?uploads")
      assert(init.status == 200)
      val id = "<UploadId>(.*?)</UploadId>".r
        .findFirstMatchIn(new String(init.body, "UTF-8")).get.group(1)
      val p1 = S3Http.send("PUT", s"$u?partNumber=1&uploadId=$id",
        "tiny-1\n".getBytes("UTF-8"))
      val p2 = S3Http.send("PUT", s"$u?partNumber=2&uploadId=$id",
        "tiny-2\n".getBytes("UTF-8"))
      assert(p1.status == 200 && p2.status == 200)
      def manifest(parts: (Int, String)*): Array[Byte] =
        parts.map { case (n, e) =>
          s"<Part><PartNumber>$n</PartNumber><ETag>$e</ETag></Part>"
        }.mkString("<CompleteMultipartUpload>", "",
          "</CompleteMultipartUpload>").getBytes("UTF-8")
      // a sub-5 MiB NON-final part is refused exactly as S3 documents
      val small = S3Http.send("POST", s"$u?uploadId=$id",
        manifest(1 -> p1.etag.get, 2 -> p2.etag.get))
      assert(small.status == 400 &&
        new String(small.body, "UTF-8").contains("EntityTooSmall"))
      // a manifest ETag that matches no stored part
      val bad = S3Http.send("POST", s"$u?uploadId=$id",
        manifest(1 -> "\"deadbeef\"", 2 -> p2.etag.get))
      assert(bad.status == 400 &&
        new String(bad.body, "UTF-8").contains("InvalidPart"))
      // a SINGLE small part is legal (the final part may be any size)
      val ok = S3Http.send("POST", s"$u?uploadId=$id", manifest(2 -> p2.etag.get))
      assert(ok.status == 200, new String(ok.body, "UTF-8"))
      assert(new String(
        new S3SegmentStore(srv.endpoint, "b", "s1/segments/").get("tiny.seg"),
        "UTF-8") == "tiny-2\n")
      assert(srv.pendingUploads == 0, "complete consumed the upload")
      // unknown uploadId: complete and abort both 404
      assert(S3Http.send("POST", s"$u?uploadId=nope",
        manifest(1 -> "\"x\"")).status == 404)
      assert(S3Http.send("DELETE", s"$u?uploadId=nope").status == 404)
      // a pending upload's parts are INVISIBLE: not GETtable, not listed
      val init2 = S3Http.send("POST", s"$u?uploads")
      val id2 = "<UploadId>(.*?)</UploadId>".r
        .findFirstMatchIn(new String(init2.body, "UTF-8")).get.group(1)
      S3Http.send("PUT", s"$u?partNumber=1&uploadId=$id2", "x".getBytes)
      val listed = new S3SegmentStore(srv.endpoint, "b", "s1/segments/")
        .list().map(_.name)
      assert(listed == Seq("tiny.seg"), s"pending parts leaked into LIST: $listed")
      assert(S3Http.send("DELETE", s"$u?uploadId=$id2").status == 204)
      assert(srv.pendingUploads == 0)
    }
  }

  // ------------------------------------------------------------------
  // Idle long-poll backoff (r16)
  // ------------------------------------------------------------------

  test("idle poll backs off 50ms -> 1s: O(log) probes early, capped cadence after; delivery within the cap") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(7700000)
      val log = new StreamLog(spark, root, "s1")
      log.publish(Seq("""{"i":1}"""), nowMs = c)
      val tip = log.lastOffset.get

      // 3 s idle at intervalMs=50: without backoff ~60 probes;
      // with doubling-to-1s the schedule is ~50,100,200,400,800,1000…
      // ≈ 7 probes (+1 initial). A probe is a HEAD on a store that
      // keeps readIfMoved's default, a 304 GET on S3MetaStore.
      val (h0, nm0) = (srv.heads, srv.notModified)
      assert(log.poll(tip, 10, timeoutMs = 3000, intervalMs = 50).isEmpty)
      val probes = (srv.heads - h0) + (srv.notModified - nm0)
      assert(probes <= 12, s"idle window paid $probes probes — backoff missing")
      assert(probes >= 4, s"only $probes probes — poll not probing at all?")

      // delivery latency: let the poller reach the cap, then publish
      // from a SECOND handle — the poll must return within ~one cap
      val other = new StreamLog(spark, root, "s1")
      @volatile var publishedAt = 0L
      val t = new Thread(() => {
        Thread.sleep(2500) // poller is at the 1 s cap by now
        publishedAt = System.currentTimeMillis()
        other.publish(Seq("""{"late":1}"""), nowMs = c)
        ()
      })
      t.start()
      val got = log.poll(tip, 10, timeoutMs = 30000, intervalMs = 50)
      val seenAt = System.currentTimeMillis()
      t.join()
      assert(got.map(_._2) == Seq("""{"late":1}"""))
      assert(seenAt - publishedAt <= 1500,
        s"delivery took ${seenAt - publishedAt} ms — exceeds the 1 s cap (+slack)")
    }
  }

  // ------------------------------------------------------------------
  // Fleet-scale soak (r16 stretch): 50 streams, two coordinators,
  // STS-signed wire, restart + churn
  // ------------------------------------------------------------------

  test("50-stream STS-signed fleet soak: takeover, server restart, token rotation, create/destroy churn — fences only, zero loss, catalog consistent") {
    // restart kills live connections -> transport retries; serialize
    // with the counter-exact suites (WireFaultSerial contract, r19)
    WireFaultSerial.synchronized(withServer(auth = Some(stsCreds)) { srv =>
      // PROVIDER registration (r17): the soak's credentials come from a
      // refreshable source so the mid-soak token rotation below is
      // survivable — exactly the instance-role fleet deployment shape
      val currentCreds =
        new java.util.concurrent.atomic.AtomicReference(stsCreds)
      S3Auth.registerProvider(srv.endpoint, new CredentialProvider {
        override def resolve(): SigV4Credentials = currentCreds.get()
      }, ttlMs = 3600000L)
      try {
        val root = s"s3:${srv.endpoint}/b"
        val names = (1 to 50).map(i => f"s$i%02d")
        val errorsA = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
        val errorsB = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
        val compactedB = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        val expected = scala.collection.mutable.Map[String, Seq[String]]()

        val fleetA = StreamLogs.startMaintenance(spark, root, intervalMs = 500,
          onError = (n, e) => errorsA.add((n, e)))
        try {
          names.foreach { n =>
            val h = fleetA.open(n)
            h.claimWriter()
            expected(n) = h.publish((1 to 3).map(i => s"""{"era":"a","i":$i}"""))
          }
          assert(StreamLogs.list(root) == names,
            "bucket-wide discovery sees all 50 streams")

          val fleetB = StreamLogs.startMaintenance(spark, root, intervalMs = 500,
            onReport = (n, r) => if (r.compacted.nonEmpty) compactedB.add(n),
            onError = (n, e) => errorsB.add((n, e)))
          try {
            val epochsB = fleetB.claimWriters()
            assert(epochsB.keySet == names.toSet && epochsB.values.forall(_ >= 2))
            names.foreach { n =>
              val h = fleetB.open(n)
              expected(n) = expected(n) ++
                h.publish((1 to 2).map(i => s"""{"era":"b","i":$i}"""))
            }

            // mid-soak endpoint restart — object state and every
            // content-derived tag survive; both daemons ride through
            srv.restart()

            // mid-soak STS rotation (r17): a fresher token is issued
            // (provider), then the old one expires (server). Every
            // live handle and both maintenance daemons ride the
            // 403 -> refresh -> retry path; the churn + fence waits
            // below all run on the rotated token.
            val rotated = stsCreds.copy(
              sessionToken = stsCreds.sessionToken.map(_ + "-rotated"))
            currentCreds.set(rotated)
            srv.rotate(rotated)

            // churn: destroy the last 10 streams, re-create 5 of them
            val destroyed = names.takeRight(10)
            destroyed.foreach { n =>
              val h = fleetB.open(n)
              h.refresh(); h.destroy(); fleetB.release(n)
              expected.remove(n)
            }
            val reborn = destroyed.take(5)
            reborn.foreach { n =>
              val h = fleetB.open(n)
              h.claimWriter()
              expected(n) = h.publish(Seq(s"""{"era":"c"}"""))
            }
            names.dropRight(10).foreach { n =>
              val h = fleetB.open(n)
              h.refresh()
              expected(n) = expected(n) ++ h.publish(Seq(s"""{"era":"b2"}"""))
            }

            // catalog: exactly the live streams, none of the destroyed
            val live = (names.dropRight(10) ++ reborn).sorted
            assert(StreamLogs.list(root) == live,
              s"catalog drift: ${StreamLogs.list(root)}")
            destroyed.drop(5).foreach(n =>
              assert(!StreamStores.streamExists(root, n), s"$n still exists"))

            val deadline = System.currentTimeMillis() + 60000
            def fencedA = errorsA.asScala.exists(_._2.isInstanceOf[WriterFencedException])
            while ((!fencedA || compactedB.isEmpty) &&
              System.currentTimeMillis() < deadline) Thread.sleep(100)
            assert(fencedA, "superseded coordinator never fenced")
            assert(compactedB.asScala.nonEmpty, "live coordinator never compacted")
            def transient(e: Throwable) = e.isInstanceOf[java.io.IOException] ||
              Option(e.getCause).exists(_.isInstanceOf[java.io.IOException])
            errorsA.asScala.foreach { case (n, e) =>
              assert(e.isInstanceOf[WriterFencedException] || transient(e),
                s"A/$n threw $e")
            }
            // B's sweeper starts BEFORE claimWriters() lands, so its
            // first pass can maintain a not-yet-claimed handle (epoch
            // 0) on a stream A already claimed — the fence-backoff
            // records it and the claim clears it; that startup fence
            // is expected at 50-stream width (the claim handshake
            // takes ~1 sweep), everything else must be transient
            errorsB.asScala.foreach { case (n, e) =>
              assert(transient(e) || e.isInstanceOf[WriterFencedException],
                s"live coordinator B/$n threw $e")
            }
          } finally fleetB.close()
        } finally fleetA.close()

        // zero loss across eras, restart, and churn — fresh handles
        expected.foreach { case (n, offs) =>
          val got = new StreamLog(spark, root, n).consume(Offset.Beginning, 1000)
          assert(got.map(_._1) == offs, s"$n: ${got.size} records, want ${offs.size}")
        }
        // the rotation MUST have exercised the refresh path (the stale
        // cached token 403s at least once), and each stale in-flight
        // request costs exactly one 403 before its refresh — bounded,
        // never a storm; zero operation FAILURES is what the error
        // queues + zero-loss checks above already proved
        assert(srv.authRejects >= 1,
          "the mid-soak rotation never hit the wire — refresh path untested")
        assert(srv.authRejects <= 64,
          s"403 storm after rotation: ${srv.authRejects} rejects")
      } finally S3Auth.unregister(srv.endpoint)
    })
  }

  test("a SECOND PROCESS takes over as coordinator: claim, publish, REAL maintenance from a fresh JVM over the signed wire — first process fenced, zero loss") {
    // the last single-JVM assumption in the fleet evidence (r17,
    // VERDICT r16 stretch): both prior coordinators shared this JVM's
    // S3Auth registry and StreamStores state. Here the takeover,
    // publish, distributed compaction, and checkpoint all run in a
    // SEPARATE JVM whose only link to this one is the bucket.
    withServer(auth = Some(stsCreds)) { srv =>
      S3Auth.register(srv.endpoint, stsCreds)
      try {
        val root = s"s3:${srv.endpoint}/b"
        val c = clock(8700000)
        val a = new StreamLog(spark, root, "s1")
        assert(a.claimWriter() == 1L)
        val offsA = a.publish((1 to 6).map(i => s"""{"era":"a","i":$i}"""),
          nowMs = c)

        val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
        // Spark 4 on JDK 17 outside spark-submit needs the module opens
        // (the build.sbt list) — the subprocess is a bare java launch
        val addOpens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"
        ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
        val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
          "-Dspark.ui.enabled=false",
          "-cp", sys.props("java.class.path"),
          "graft.streamlog.SecondCoordinator", srv.endpoint, "b", "s1",
          stsCreds.accessKey, stsCreds.secretKey, stsCreds.sessionToken.get)
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectErrorStream(true)
        val proc = pb.start()
        val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
        assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), out)
        assert(proc.exitValue() == 0, s"second coordinator failed:\n$out")
        assert(out.contains("CLAIMED 2"), out)
        assert(out.contains("PUBLISHED 5"), out)
        assert(out.contains("RECORDS 11"), out)

        // this JVM's coordinator is now FENCED — its next commit must
        // refuse (the takeover landed purely through the bucket)
        a.refresh()
        intercept[WriterFencedException](
          a.publish(Seq("""{"era":"a-late"}"""), nowMs = c))
        // zero loss across both eras + the second process's compaction
        val got = new StreamLog(spark, root, "s1").consume(Offset.Beginning, 100)
        assert(got.size == 11, s"got ${got.size} records")
        assert(got.map(_._1).take(6) == offsA, "era-a offsets survive takeover")
        assert(srv.authRejects == 0, "both processes signed every request")
      } finally S3Auth.unregister(srv.endpoint)
    }
  }

  test("metadata commit cost stays O(live segments) through 10x history — measured on the wire") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(9000000)
      val log = new StreamLog(spark, root, "s1")
      def metaBytes: Int = srv.keys.find(_ == "s1/meta.jsonl")
        .map(_ => new S3SegmentStore(srv.endpoint, "b", "s1/")
          .get("meta.jsonl").length).getOrElse(0)

      // 10 eras × 6 segments; each era compacts + checkpoints. History
      // grows 10×, live segment count stays ~constant — so the metadata
      // object (what every conditional commit GETs and PUTs whole) must
      // NOT trend with era number. This is the r15 measured curve behind
      // the r13/r14 "commit cost is O(live segments)" claim.
      val curve = (1 to 10).map { era =>
        (1 to 6).foreach(_ =>
          log.publish((1 to 5).map(i => s"""{"e":$era,"i":$i}"""), nowMs = c))
        log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = c)
        (era, log.segments.size, metaBytes)
      }
      val lives = curve.map(_._2)
      val bytes = curve.map(_._3)
      System.err.println(s"[meta-cost] (era, live, metaBytes): $curve")
      assert(lives.max <= lives.min + 2,
        s"live segment count should be steady under maintenance: $lives")
      // flat-with-history: the last era's log is within 50% of the
      // SECOND era's (era 1 may be smaller before steady state), not
      // 10× — the append-only no-checkpoint failure mode
      assert(bytes.last <= (bytes(1) * 3) / 2,
        s"metadata log grew with HISTORY, not live segments: $bytes")
      // absolute sanity: ~per-live-segment line size, not per-ever-line
      assert(bytes.last <= log.segments.size * 400 + 800,
        s"metadata log larger than O(live segments): ${bytes.last} bytes " +
          s"for ${log.segments.size} live segments")
      assert(log.consume(Offset.Beginning, 1000).size == 300, "zero loss")
    }
  }

  test("multi-object delete: 1001 keys ride 2 POSTs, escaped keys round-trip, absent keys are no-ops, bad digest and oversize refused") {
    withServer(auth = Some(stsCreds)) { srv =>
      val segs = new S3SegmentStore(srv.endpoint, "b", "s1/segments/",
        Some(stsCreds))
      // 1001 keys = the batch boundary: exactly 2 POSTs, zero DELETEs
      val names = (1 to 1001).map(i => f"k$i%04d.seg")
      names.foreach(n => segs.put(n, "x\n".getBytes("UTF-8")))
      // plus a key that needs XML escaping in the request body
      segs.put("odd & <name>.seg", "y\n".getBytes("UTF-8"))
      val (p0, d0) = (srv.posts, srv.deletes)
      segs.deleteMany(names :+ "odd & <name>.seg" :+ "never-existed.seg")
      assert(srv.posts - p0 == 2, s"paid ${srv.posts - p0} POSTs for 1003 keys")
      assert(srv.deletes == d0, "no single DELETEs on the batch path")
      assert(srv.batchDeletedKeys == 1003)
      assert(segs.list().isEmpty, "every key removed, escaped name included")
      assert(srv.authRejects == 0, "batch POSTs signed correctly")

      // server conformance: a wrong Content-MD5 must refuse (the
      // integrity guard — a corrupted body could delete wrong keys)
      val body = "<Delete><Quiet>true</Quiet><Object><Key>a</Key></Object></Delete>"
        .getBytes("UTF-8")
      val bad = S3Http.send("POST", s"${srv.endpoint}/b?delete", body,
        Seq("Content-MD5" -> "bm90LXRoZS1kaWdlc3Q="), auth = Some(stsCreds))
      assert(bad.status == 400 &&
        new String(bad.body, "UTF-8").contains("InvalidDigest"))
      // and >1000 keys in ONE request must refuse (the client batches;
      // the server enforces the documented ceiling)
      val big = (1 to 1001).map(i => s"<Object><Key>z$i</Key></Object>")
        .mkString("<Delete><Quiet>true</Quiet>", "", "</Delete>").getBytes("UTF-8")
      val md5 = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("MD5").digest(big))
      val over = S3Http.send("POST", s"${srv.endpoint}/b?delete", big,
        Seq("Content-MD5" -> md5), auth = Some(stsCreds))
      assert(over.status == 400 &&
        new String(over.body, "UTF-8").contains("MalformedXML"))
    }
  }

  test("maintenance sweeps ride the batch-delete path: k tombstones cost 1 POST, not k DELETEs") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(9500000)
      val log = new StreamLog(spark, root, "s1")
      (1 to 8).foreach(_ =>
        log.publish((1 to 10).map(i => s"""{"i":$i}"""), nowMs = c))
      // orphan debris joins the same sweep
      new S3SegmentStore(srv.endpoint, "b", "s1/segments/")
        .put("zzz-orphan.seg", "debris\n".getBytes)
      val (p0, d0) = (srv.posts, srv.deletes)
      val r = log.maintain(tombstoneMaxAgeMs = 0L, orphanGraceMs = 0L, nowMs = c)
      assert(r.tombstonesPurged.size >= 8, s"$r")
      assert(r.orphansPurged.contains("zzz-orphan.seg"))
      assert(srv.deletes == d0,
        s"maintenance paid ${srv.deletes - d0} single DELETEs — batching lost")
      assert(srv.posts - p0 <= 2,
        s"one batch POST per collection phase, got ${srv.posts - p0}")
      assert(log.consume(Offset.Beginning, 100).size == 80, "zero loss")
    }
  }

  test("maintenance + fencing protocols run unchanged over the s3: root") {
    withServer() { srv =>
      val root = s"s3:${srv.endpoint}/b"
      val c = clock(8000000)
      val a = new StreamLog(spark, root, "s1")
      a.publish((1 to 6).map(i => s"""{"a":$i}"""), nowMs = c)
      assert(a.claimWriter() == 1L)
      val b = new StreamLog(spark, root, "s1")
      assert(b.claimWriter() == 2L)
      intercept[WriterFencedException](a.publish(Seq("""{"x":1}"""), nowMs = c))
      b.refresh()
      b.publish((1 to 4).map(i => s"""{"b":$i}"""), nowMs = c)
      b.maintain(orphanGraceMs = 0L, nowMs = c)
      assert(b.consume(Offset.Beginning, 100).size == 10)
      // an orphan put lands in the bucket, never in metadata — one
      // maintenance pass collects it through LIST over HTTP
      new S3SegmentStore(srv.endpoint, "b", "s1/segments/")
        .put("zzzz-orphan.seg", "debris\n".getBytes)
      val r2 = b.maintain(orphanGraceMs = 0L, nowMs = c)
      assert(r2.orphansPurged.contains("zzzz-orphan.seg"), s"$r2")
      assert(b.consume(Offset.Beginning, 100).size == 10, "no records lost")
    }
  }
}
