package graft.streamlog

import java.nio.file.Files

import graft.SparkSpec

/** [[HadoopSegmentStore]] driven through the REAL
  * `org.apache.hadoop.fs.FileSystem` layer over `file://` URIs — the
  * API shape s3a/gcs/abfs implement — plus the r15 deliverable on top:
  * [[SegmentStore.scanPaths]] returns real URIs, so the DSv2
  * batch/micro-batch scan plans range-streaming file reads instead of
  * the whole-object-GET fallback.
  */
class HadoopStreamLogSpec extends SparkSpec {

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft-hadoop-root")
    s"hadoop:file://$dir"
  }

  test("SegmentStore contract through the Hadoop FileSystem layer: put/get/list/delete, dot-tmp invisibility") {
    val store = new HadoopSegmentStore(
      s"file://${Files.createTempDirectory("graft-hseg")}/segments")
    (1 to 4).foreach(i => store.put(s"seg$i.seg", s"line$i\n".getBytes))
    assert(new String(store.get("seg2.seg")) == "line2\n")
    intercept[java.nio.file.NoSuchFileException](store.get("absent.seg"))
    // list: name + modtime, dot-files (in-flight tmp, crc sidecars) hidden
    val listed = store.list()
    assert(listed.map(_.name) == (1 to 4).map(i => s"seg$i.seg"))
    assert(listed.forall(_.lastModifiedMs > 0))
    store.delete("seg3.seg")
    store.delete("seg3.seg") // idempotent
    assert(store.list().map(_.name) == Seq("seg1.seg", "seg2.seg", "seg4.seg"))
    // scanPaths: REAL URIs a file scan can open
    val paths = store.scanPaths(Seq("seg1.seg")).get
    assert(paths.head.startsWith("file:") && paths.head.endsWith("/seg1.seg"))
    assert(spark.read.text(paths.head).count() == 1L)
    // putFromFile commits a local spool through the FileSystem
    val spool = store.newSpool("x")
    Files.write(spool, "spooled\n".getBytes)
    store.putFromFile("seg5.seg", spool)
    assert(new String(store.get("seg5.seg")) == "spooled\n")
    assert(!Files.exists(spool), "spool consumed")
    // re-put under the SAME name is an overwrite (SegmentStore stated
    // requirement #3: an ambiguous upload's retry must land, not wedge
    // — the renameOver path on rename-capable schemes, r15 review)
    store.put("seg5.seg", "retried\n".getBytes)
    assert(new String(store.get("seg5.seg")) == "retried\n")
    val spool2 = store.newSpool("y")
    Files.write(spool2, "respooled\n".getBytes)
    store.putFromFile("seg5.seg", spool2)
    assert(new String(store.get("seg5.seg")) == "respooled\n")
  }

  test("full StreamLog battery on a hadoop: root — publish, consume, poll, compact, maintain, rebuild, destroy") {
    val root = freshRoot()
    val c = clock(20000000)
    val log = new StreamLog(spark, root, "s1")
    val offs = (1 to 4).flatMap(_ =>
      log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    assert(log.consume(offs(7), 100).map(_._1) == offs.drop(8), "chaining")

    // readAfter plans a FILE scan (scanPaths Some), not distributed GETs
    assert(log.readAfter(Offset.Beginning).count() == 20L)
    assert(log.readAfter(offs(12)).count() == 7L, "offset pruning intact")

    // second handle wakes through the metadata tag probe
    val other = new StreamLog(spark, root, "s1")
    val t = new Thread(() => { Thread.sleep(80); log.publish(Seq("""{"late":1}"""), nowMs = c); () })
    t.start()
    val got = other.poll(offs.last, 10, timeoutMs = 30000, intervalMs = 20)
    t.join()
    assert(got.map(_._2) == Seq("""{"late":1}"""))

    // compaction merges land through the FileSystem (putFromFile rename)
    assert(log.compactOnce(nowMs = c).isDefined)
    assert(log.consume(Offset.Beginning, 100).size == 21)
    // orphan put + maintain sweep over listStatus
    StreamStores.segmentStore(root, "s1").put("zzzz-orphan.seg", "junk\n".getBytes)
    val report = log.maintain(tombstoneMaxAgeMs = 0, orphanGraceMs = -1, nowMs = c)
    assert(report.orphansPurged.contains("zzzz-orphan.seg"))
    assert(log.consume(Offset.Beginning, 100).size == 21)

    // crash rebuild from listStatus + open alone
    val rebuilt = new StreamLog(spark, root, "s1")
    rebuilt.rebuildFromSegments(nowMs = c)
    assert(rebuilt.consume(Offset.Beginning, 100).size == 21)

    // destroy + name reuse
    log.refresh()
    log.destroy()
    assert(StreamStores.segmentStore(root, "s1").list().isEmpty)
    log.publish(Seq("""{"fresh":1}"""), nowMs = c)
    assert(log.consume(Offset.Beginning, 100).size == 1)
  }

  test("DSv2 scan over a hadoop: root plans STREAMING file partitions — no GET fallback — with offset pruning intact") {
    val root = freshRoot()
    val c = clock(21000000)
    val log = new StreamLog(spark, root, "s1")
    val offs = (1 to 3).flatMap(_ =>
      log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))

    // the planner's own partitions: every one carries a real file: URI
    val scan = new graft.sources.StreamLogScan(root, "s1", Offset.Beginning)
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.StreamLogPartition])
    assert(parts.length == 3)
    assert(parts.forall(p => p.path.exists(_.startsWith("file:"))),
      s"hadoop-rooted partitions must carry scan paths: ${parts.map(_.path).toSeq}")
    // offset pruning composes: a bounded scan plans fewer partitions
    val bounded = new graft.sources.StreamLogScan(root, "s1", offs(9))
      .planInputPartitions()
      .map(_.asInstanceOf[graft.sources.StreamLogPartition])
    assert(bounded.length < 3 && bounded.forall(_.path.exists(_.startsWith("file:"))))

    // a mem root (non-addressable) keeps the GET fallback shape
    val memRoot = s"mem:bucket-${java.util.UUID.randomUUID()}"
    val memLog = new StreamLog(spark, memRoot, "s1")
    memLog.publish(Seq("""{"m":1}"""), nowMs = c)
    val memParts = new graft.sources.StreamLogScan(memRoot, "s1", Offset.Beginning)
      .planInputPartitions()
      .map(_.asInstanceOf[graft.sources.StreamLogPartition])
    assert(memParts.forall(_.path.isEmpty), "non-addressable stores keep the GET path")

    // end-to-end: the streamed read returns exactly the pruned records
    val df = spark.read.format("streamlog")
      .option("path", root).option("stream", "s1").load()
    assert(df.count() == 15)
    import org.apache.spark.sql.functions.col
    val pruned = df.filter(col("offset") > offs(7))
      .collect().map(_.getString(0)).sorted
    assert(pruned.toSeq == offs.drop(8))
  }

  test("DSv2 bulk write, micro-batch read, and streaming sink run over the hadoop: root") {
    val root = freshRoot()
    val c = clock(22000000)
    val log = new StreamLog(spark, root, "s1")
    log.publish((1 to 5).map(i => s"""{"seed":$i}"""), nowMs = c)

    import spark.implicits._
    val rows = (0 until 12).map(i =>
      (Offset.serialize(30000000L, i.toLong), s"""{"bulk":$i}"""))
    rows.toDF("offset", "data").write.format("streamlog")
      .option("path", root).option("stream", "s1").mode("append").save()
    log.refresh()
    assert(log.consume(Offset.Beginning, 100).size == 17)

    // micro-batch partitions also carry file paths
    val mb = new graft.sources.StreamLogMicroBatch(root, "s1", Offset.Beginning)
    val end = mb.latestOffset()
    val mbParts = mb.planInputPartitions(mb.initialOffset(), end)
      .map(_.asInstanceOf[graft.sources.StreamLogPartition])
    assert(mbParts.nonEmpty && mbParts.forall(_.path.exists(_.startsWith("file:"))))

    // streaming sink with checkpoint restart: exactly-once over hadoop
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("graft-hadoop-sink-ckpt").toString
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
    assert(got.sorted == (1 to 6).map(i => s"""{"s":$i}""").sorted)
  }

  test("a non-file hadoop scheme refuses the implicit MetaStore pairing with guidance") {
    val e = intercept[IllegalArgumentException](
      StreamStores.metaStore("hadoop:hdfs://nn:8020/streams", "s1"))
    assert(e.getMessage.contains("explicit MetaStore"))
    // ...but the SEGMENT plane resolves fine (it is scheme-agnostic);
    // constructing the store does not contact the cluster
    StreamStores.segmentStore("hadoop:hdfs://nn:8020/streams", "s1"): Unit
  }

  test("fleet maintenance FAILS FAST on a hadoop non-file root instead of throwing per stream per sweep") {
    // ADVICE r15: listStreams happily enumerates hadoop:s3a:// roots
    // but the sweep's open path would throw IllegalArgumentException
    // per stream per sweep — refuse at start with guidance instead
    val e = intercept[IllegalArgumentException](
      StreamLogs.startMaintenance(spark, "hadoop:hdfs://nn:8020/streams",
        intervalMs = 100))
    assert(e.getMessage.contains("explicit"), e.getMessage)
    // file-scheme hadoop roots still start (and stop) cleanly
    val fleet = StreamLogs.startMaintenance(spark, freshRoot(), intervalMs = 100)
    fleet.close()
  }

  test("destroy drops the stream from the hadoop catalog: no bare-segments ghost, streamExists consistent, name reusable") {
    val root = freshRoot()
    val c = clock(23000000)
    val a = new StreamLog(spark, root, "alive")
    val d = new StreamLog(spark, root, "doomed")
    a.publish(Seq("""{"a":1}"""), nowMs = c)
    d.publish(Seq("""{"d":1}"""), nowMs = c)
    assert(StreamLogs.list(root) == Seq("alive", "doomed"))
    assert(StreamStores.streamExists(root, "doomed"))

    d.destroy()
    // ADVICE r15: destroy used to leave an empty segments/ directory
    // behind, so the catalog listed the stream forever while
    // streamExists said false — both must now agree on absence
    assert(StreamLogs.list(root) == Seq("alive"),
      s"destroyed stream still cataloged: ${StreamLogs.list(root)}")
    assert(!StreamStores.streamExists(root, "doomed"))
    assert(StreamStores.streamExists(root, "alive"))

    // the name is immediately reusable with fresh state
    d.publish(Seq("""{"reborn":1}"""), nowMs = c)
    assert(StreamLogs.list(root) == Seq("alive", "doomed"))
    assert(d.consume(Offset.Beginning, 10).map(_._2) == Seq("""{"reborn":1}"""))
  }

  test("streamExists on a hadoop non-file root probes the FileSystem — no MetaStore construction, no throw") {
    // the probe must not route through StreamStores.metaStore (which
    // rejects non-file hadoop schemes); RawLocalFileSystem answers for
    // file:, and the code path is scheme-generic. A root that does not
    // exist is simply absent.
    assert(!StreamStores.streamExists(freshRoot(), "nope"))
  }

  test("the debris sweep collects stale put staging but never a live writer spool") {
    val dir = Files.createTempDirectory("graft-debris")
    val store = new HadoopSegmentStore(s"file://$dir/segments")
    store.put("live.seg", "x\n".getBytes) // creates the segments dir
    // crash-leaked put staging: old enough -> swept
    val stale = dir.resolve("segments")
      .resolve(".dead.seg.00000000-0000-0000-0000-000000000000.put.tmp")
    Files.write(stale, "partial".getBytes)
    // a writer SPOOL parked by a slow task: must survive far past any
    // grace window (r16 review: the first sweep matched any .tmp and
    // would have deleted an in-flight task's spool; spools sweep only
    // at the 24 h floor, put staging at the 1 h floor)
    val spool = dir.resolve("segments").resolve(".w-3-17.tmp")
    Files.write(spool, "in-flight".getBytes)
    // within the put-staging floor: NOTHING sweeps (an in-flight
    // multi-GiB staging copy must survive a concurrent purge)
    val early = store.sweepDebris(olderThanMs = 0L,
      nowMs = System.currentTimeMillis() + 1000)
    assert(early.isEmpty && Files.exists(stale), s"swept early: $early")
    // past the 1 h floor: the staging debris goes, the spool stays
    val swept = store.sweepDebris(olderThanMs = 0L,
      nowMs = System.currentTimeMillis() +
        SegmentStore.PutStagingSweepFloorMs + 1000)
    assert(swept.exists(_.contains("dead.seg")), s"swept: $swept")
    assert(!Files.exists(stale))
    assert(Files.exists(spool), "live spool must never be collected")
    // past the 24 h floor: the abandoned spool goes too
    val late = store.sweepDebris(olderThanMs = 0L,
      nowMs = System.currentTimeMillis() +
        SegmentStore.SpoolSweepFloorMs + 1000)
    assert(late.exists(_.contains("w-3-17")), s"late sweep: $late")
    assert(!Files.exists(spool))
    assert(new String(store.get("live.seg")) == "x\n")
  }

  test("concurrent same-name puts through renameOver: no thrown absence, final content is one of the writers'") {
    // ADVICE r15: the fixed dot-tmp name made concurrent retries of
    // the same deterministic put collide on one tmp path — one retry
    // renamed the shared tmp out from under another, and the loser
    // used to DELETE the landed object then throw. With per-attempt
    // UNIQUE tmps (r16 — the fail-loudly design; "success-by-peer" was
    // reversed) every attempt's staging is private, racers converge
    // through the bounded delete-then-rename loop, and every put call
    // returns with the object holding the put content.
    val store = new HadoopSegmentStore(
      s"file://${Files.createTempDirectory("graft-race")}/segments")
    val content = "identical-retry-content\n".getBytes
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 20).foreach { _ =>
      val threads = (1 to 8).map(_ => new Thread(() =>
        try store.put("same.seg", content)
        catch { case t: Throwable => errors.add(t) }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(errors.isEmpty, s"a racing put failed: ${errors.peek()}")
      assert(new String(store.get("same.seg")) == new String(content),
        "the object must exist with the put content after every race round")
    }
  }

  test("COMPOSITE root (hadoop data plane + s3 meta commits): one root string drives publish, wire-CAS fencing, file scans, maintain, catalog, destroy") {
    // the r17 ergonomics closure (VERDICT r16 stretch #9): the
    // HadoopSegmentStore scaladoc's "explicit constructor only"
    // pairing, now expressible as ONE root string that executors can
    // re-resolve — `hadoop:<fsUri>;meta=s3:<endpoint>/<bucket>`
    val srv = new S3LiteServer()
    try {
      val dir = Files.createTempDirectory("graft-hybrid-root")
      val root = s"hadoop:file://$dir;meta=s3:${srv.endpoint}/metab"
      val c = clock(21000000)
      val log = new StreamLog(spark, root, "s1")
      val offs = (1 to 3).flatMap(_ =>
        log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))

      // plane split: segment BYTES under file://, the metadata log (and
      // ONLY it) in the bucket — commits ride the server's real CAS
      val segDir = dir.resolve("s1").resolve("segments")
      val segFiles = Files.list(segDir)
      try assert(segFiles.count() > 0) finally segFiles.close()
      assert(srv.keys == Seq("s1/meta.jsonl"), s"bucket keys: ${srv.keys}")

      assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
      // DSv2/readAfter plans FILE scans through scanPaths — segment
      // bytes never cross the bucket (no Range GETs ever)
      assert(log.readAfter(Offset.Beginning).collect().length == 12)
      assert(srv.rangeGets == 0, "bytes must stream via the FileSystem")

      // fencing decided by the SERVER's If-Match compare, not local fs
      val b = new StreamLog(spark, root, "s1")
      assert(b.claimWriter() == 1L)
      intercept[WriterFencedException](
        log.publish(Seq("""{"late":1}"""), nowMs = c))
      b.refresh()
      val offs2 = b.publish((1 to 2).map(i => s"""{"b":$i}"""), nowMs = c)
      b.maintain(tombstoneMaxAgeMs = 0L, orphanGraceMs = 0L, nowMs = c)
      assert(b.consume(Offset.Beginning, 100).map(_._1) == offs ++ offs2,
        "zero loss across fencing + maintenance on the composite root")

      // catalog + liveness resolve through the composite planes
      assert(StreamStores.supportsImplicitMetaStore(root))
      assert(StreamStores.listStreams(root) == Seq("s1"))
      assert(StreamStores.streamExists(root, "s1"))
      assert(!StreamStores.streamExists(root, "nope"))

      // destroy sweeps BOTH planes
      b.destroy()
      assert(!StreamStores.streamExists(root, "s1"))
      assert(srv.keys.forall(!_.startsWith("s1/")), s"meta survived: ${srv.keys}")
      assert(StreamStores.listStreams(root).isEmpty)
    } finally srv.stop()
  }
}
