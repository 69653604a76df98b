package graft.streamlog

import java.nio.file.Files
import java.util.UUID

import graft.SparkSpec

/** The full stream-log battery over the SIMULATED OBJECT STORE — both
  * planes: metadata through [[InMemoryMetaStore]] (conditional append /
  * If-Match) and segment DATA through [[InMemorySegmentStore]] (whole-
  * object put/get/list/delete, no filesystem, no rename). This is the
  * "would it run rooted at s3a://" gate: every scenario here exercises
  * exactly the primitives a bucket ships, so the only thing a real
  * adapter adds is wire I/O.
  *
  * The eventually-consistent variants run the maintenance protocol over
  * [[EventualListSegmentStore]] — LIST that lags puts and deletes — to
  * prove orphan collection and tombstone cleanup never needed prompt
  * LIST visibility in the first place.
  */
class BucketStreamLogSpec extends SparkSpec {

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  private def freshMemLog(): StreamLog = {
    val root = s"mem:bucket-${UUID.randomUUID()}"
    new StreamLog(spark, root, "s1")
  }

  test("an empty DSv2 partition deletes its eagerly-created spool file instead of leaking it") {
    // the default newSpool (bucket stores) CREATES the temp file; a
    // partition that writes zero records must delete it on commit, or
    // a streaming sink leaks one file per empty partition per epoch
    val root = s"mem:bucket-${UUID.randomUUID()}"
    def spools(prefix: String) = {
      val st = Files.list(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      try {
        val it = st.iterator()
        var n = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.startsWith(prefix)) n += 1
        }
        n
      } finally st.close()
    }
    val w = graft.sources.StreamLogWriterFactory(root, "s1").createWriter(0, 777001L)
    assert(spools("graft-spool-w-0-777001") == 1, "eager spool exists")
    w.commit()
    assert(spools("graft-spool-w-0-777001") == 0, "empty commit must delete it")
    val s = graft.sources.StreamLogStreamingWriterFactory(root, "s1", 5000000L)
      .createWriter(0, 777002L, 3L)
    assert(spools("graft-spool-s-0-777002") == 1)
    s.commit()
    assert(spools("graft-spool-s-0-777002") == 0)
  }

  test("publish/consume/poll round-trip with zero segment files on disk") {
    val local = LocalLeftovers.start()
    val log = freshMemLog()
    val c = clock(1000000)
    val offs = (1 to 3).flatMap(_ => log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
    assert(offs.size == 15 && offs == offs.sorted)
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    // exclusive-start chaining across segments
    val tail = log.consume(offs(6), 100)
    assert(tail.map(_._1) == offs.drop(7))
    // nothing on the local filesystem: no working dir, never a .seg
    assert(local.made.isEmpty,
      s"bucket-sim stream leaked files onto the filesystem: ${local.made}")
    // poll sees an in-process publish immediately
    val t = new Thread(() => { Thread.sleep(100); log.publish(Seq("""{"late":1}"""), nowMs = c); () })
    t.start()
    val got = log.poll(offs.last, 10, timeoutMs = 5000)
    t.join()
    assert(got.size == 1 && got.head._2 == """{"late":1}""")
  }

  test("readAfter distributes whole-object GETs (no Hadoop paths) and prunes by offset") {
    val log = freshMemLog()
    val c = clock(2000000)
    val offs = (1 to 4).flatMap(b => log.publish((1 to 6).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    val all = log.readAfter().collect().map(_.getString(0)).sorted
    assert(all.toSeq == offs)
    val after = offs(10)
    val rest = log.readAfter(after).collect().map(_.getString(0)).sorted
    assert(rest.toSeq == offs.drop(11))
    // time-travel read hits only later epochs
    val sinceAll = log.readSince(0).count()
    assert(sinceAll == 24)
  }

  test("compaction + maintain: merged segments land as whole-object puts, consume unchanged") {
    val local = LocalLeftovers.start()
    val log = freshMemLog()
    val c = clock(3000000)
    val offs = (1 to 6).flatMap(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    val before = log.consume(Offset.Beginning, 1000)
    val report = log.maintain(
      limits = Compaction.Limits(),
      tombstoneMaxAgeMs = 0, orphanGraceMs = 0, nowMs = c)
    assert(report.compacted.nonEmpty, "expected at least one merge window")
    assert(log.consume(Offset.Beginning, 1000) == before)
    assert(log.segments.size < 6)
    log.segments.sliding(2).foreach {
      case Seq(a, b) => assert(a.lastOffset < b.firstOffset)
      case _ =>
    }
    // tombstoned originals were deleted from the object store
    assert(report.tombstonesPurged.nonEmpty)
    assert(log.tombstoneNames.isEmpty)
    // the merge stages nothing locally: the tasks put the merged objects
    assert(local.made.isEmpty, s"compaction left files on the local filesystem: ${local.made}")
  }

  test("purgeOrphans collects an uncommitted put after the grace window") {
    val log = freshMemLog()
    val c = clock(4000000)
    log.publish(Seq("""{"a":1}"""), nowMs = c)
    val store = StreamStores.segmentStore(log.root, "s1")
    store.put("zzzz-rogue.seg", "junk\n".getBytes)
    assert(log.purgeOrphans(graceMs = 3600000).isEmpty,
      "a young object must survive the grace window")
    assert(log.purgeOrphans(graceMs = -1).contains("zzzz-rogue.seg"))
    assert(log.consume(Offset.Beginning, 10).size == 1)
  }

  test("destroy + name reuse resets both planes") {
    val root = s"mem:bucket-${UUID.randomUUID()}"
    val a = new StreamLog(spark, root, "s1")
    val c = clock(5000000)
    a.publish(Seq("""{"x":1}"""), version = Some(3), nowMs = c)
    a.destroy()
    assert(StreamStores.segmentStore(root, "s1").list().isEmpty)
    val b = new StreamLog(spark, root, "s1")
    assert(b.consume(Offset.Beginning, 10).isEmpty)
    assert(b.producerVersion == 0)
    b.publish(Seq("""{"x":2}"""), nowMs = c)
    assert(b.consume(Offset.Beginning, 10).map(_._2) == Seq("""{"x":2}"""))
  }

  test("rebuildFromSegments reconstructs the index from bucket LIST + GET") {
    val log = freshMemLog()
    val c = clock(6000000)
    val offs = (1 to 3).flatMap(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    log.compactOnce(nowMs = c)
    log.rebuildFromSegments(nowMs = c) // meta wiped; widest-first over listed objects
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    assert(log.purgeOrphans(graceMs = -1).nonEmpty) // uncovered originals
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
  }

  test("DSv2 batch read resolves segments through the seam on a mem root") {
    val root = s"mem:bucket-${UUID.randomUUID()}"
    val log = new StreamLog(spark, root, "s1")
    val c = clock(7000000)
    val offs = (1 to 3).flatMap(_ => log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
    val df = spark.read.format("streamlog")
      .option("path", root).option("stream", "s1").load()
    assert(df.count() == 15)
    import org.apache.spark.sql.functions.col
    val after = offs(7)
    val pruned = df.filter(col("offset") > after).collect().map(_.getString(0)).sorted
    assert(pruned.toSeq == offs.drop(8))
  }

  test("DSv2 bulk write + streaming sink commit into the mem-rooted log") {
    val local = LocalLeftovers.start()
    val root = s"mem:bucket-${UUID.randomUUID()}"
    val log = new StreamLog(spark, root, "s1")
    val c = clock(8000000)
    log.publish(Seq("""{"seed":1}"""), nowMs = c)
    // bulk load with offsets strictly above the log
    import spark.implicits._
    val base = 9000000L
    val rows = (0 until 20).map(i => (Offset.serialize(base, i.toLong), s"""{"bulk":$i}"""))
    rows.toDF("offset", "data").write.format("streamlog")
      .option("path", root).option("stream", "s1").mode("append").save()
    log.refresh()
    assert(log.consume(Offset.Beginning, 100).size == 21)
    // all segment objects live in the sim store; none on disk
    assert(StreamStores.segmentStore(root, "s1").list().nonEmpty)
    assert(local.made.isEmpty, local.made)

    // streaming sink over the same mem root: exactly-once epoch commits
    // through InMemoryMetaStore's If-Match append + whole-object puts
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("graft-mem-sink-ckpt").toString
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
    val q2 = start() // restart from checkpoint: no duplicate epochs
    try {
      ms.addData("""{"s":6}""")
      q2.processAllAvailable()
    } finally q2.stop()
    log.refresh()
    val got = log.consume(Offset.Beginning, 1000).map(_._2).filter(_.contains("\"s\""))
    assert(got.sorted == (1 to 6).map(i => s"""{"s":$i}""").sorted,
      s"expected 6 unique sink records, got $got")
  }

  test("eventual LIST: maintenance survives lagged visibility and stale ghosts") {
    val root = s"mem:bucket-${UUID.randomUUID()}"
    var wall = 10000000L
    val lag = 1000L
    val seg = new EventualListSegmentStore(lag, () => wall)
    val meta = new InMemoryMetaStore
    StreamStores.register(root, "s1", meta, seg)
    val log = new StreamLog(spark, root, "s1")
    val c = clock(10000000)
    val offs = (1 to 4).flatMap(_ => log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c))
    // fresh puts are LIST-invisible: orphan purge must not misread that
    // as absence, and must not need to see them (they are referenced via
    // the metadata log, not via LIST)
    assert(log.purgeOrphans(graceMs = 0).isEmpty)
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    // compact: merged object put now, originals tombstoned
    assert(log.compactOnce(nowMs = c).nonEmpty)
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    // delete via tombstone cleanup targets names directly — no LIST needed
    assert(log.cleanTombstones(maxAgeMs = 0, nowMs = c).nonEmpty)
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    // ghosts: deleted originals still show in the lagged LIST; purge
    // re-issues idempotent DELETEs without touching live data
    wall += lag + 1 // everything (including ghosts' stale entries) visible
    log.purgeOrphans(graceMs = -1)
    assert(log.consume(Offset.Beginning, 100).map(_._1) == offs)
    // reads stay correct once the lag passes
    wall += lag + 1
    assert(log.readAfter().count() == offs.size.toLong)
  }

  test("If-Match contention: interleaved metadata commits from two handles both land") {
    val root = s"mem:bucket-${UUID.randomUUID()}"
    val a = new StreamLog(spark, root, "s1")
    val b = new StreamLog(spark, root, "s1")
    val c = clock(12000000)
    // alternating publishes from two handles over the same sim bucket:
    // each publish's conditional append must retry through the other's
    // commits (the 412 path) — refresh() replays before each turn, as
    // the single-writer contract requires for offset assignment
    var all = Vector.empty[String]
    (1 to 5).foreach { i =>
      a.refresh(); all = all ++ a.publish(Seq(s"""{"a":$i}"""), nowMs = c)
      b.refresh(); all = all ++ b.publish(Seq(s"""{"b":$i}"""), nowMs = c)
    }
    a.refresh()
    assert(a.consume(Offset.Beginning, 100).map(_._1) == all)
    assert(StreamStores.metaStore(root, "s1").readWithTag()._2 >= 10)
  }
}
