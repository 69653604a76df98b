package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.UUID

import graft.SparkSpec

/** Compaction's merge job: a window's segments are contiguous and
  * sorted, so each window is one task that writes its inputs' lines in
  * order — one stage, no shuffle — and the driver commits a merged
  * segment only if it holds exactly its window's records. */
class CompactionMergeSpec extends SparkSpec {

  private def clock(start: Long): () => Long = {
    var t = start
    () => { t += 1; t }
  }

  /** `f` on a fresh root of each kind: in-memory bucket, POSIX,
    * `hadoop:file:` and an `s3:` endpoint. */
  private def eachRoot(f: String => Unit): Unit = {
    val srv = new S3LiteServer()
    try Seq(
      s"mem:merge-${UUID.randomUUID()}",
      Files.createTempDirectory("graft-merge").toString,
      s"hadoop:file://${Files.createTempDirectory("graft-merge-h")}",
      s"s3:${srv.endpoint}/b"
    ).foreach(f)
    finally srv.stop()
  }

  test("compactAll runs one stage of one task per window and writes no shuffle, on every root kind") {
    eachRoot { root =>
      val c = clock(9600000)
      val log = new StreamLog(spark, root, "s1")
      (1 to 6).foreach(b => log.publish((1 to 4).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
      val before = log.consume(Offset.Beginning, 1000)
      // windows of two segments: three windows in one job
      val (merged, shape) = JobShape.of(spark)(
        log.compactAll(Compaction.Limits(maxSegments = 2), nowMs = c))
      assert(merged.size == 3)
      assert(shape == JobShape(jobs = 1, stages = 1, tasks = 3, shuffleWriteBytes = 0L), root)
      assert(log.segments == merged)
      merged.foreach(m => assert(m.records == 8L && m.sha256.matches("[0-9a-f]{64}"), m))
      assert(log.consume(Offset.Beginning, 1000) == before, root)
      // a fresh handle replays the commit; its scan verifies each digest
      val fresh = new StreamLog(spark, root, "s1")
      assert(fresh.consume(Offset.Beginning, 1000) == before, root)
      assert(fresh.readAfter().collect().map(r => (r.getString(0), r.getString(1)))
        .sortBy(_._1).toSeq == before, root)
      log.destroy()
    }
  }

  test("a merge that disagrees with its window's metadata commits nothing and leaves its segment an orphan") {
    val root = s"mem:merge-${UUID.randomUUID()}"
    val c = clock(9700000)
    val log = new StreamLog(spark, root, "s1")
    log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c)
    // plant a segment whose add entry counts one record more than it holds
    val offs = (0 until 3).map(i => Offset.serialize(9800000L, i.toLong))
    val bytes = offs.map(o => s"""$o{"p":1}""" + "\n").mkString.getBytes(UTF_8)
    val planted = SegmentMeta(s"${offs.head}-planted.seg", offs.head, offs.last, c(),
      records = 4L, bytes = bytes.length.toLong, sha256 = SegmentIntegrity.sha256Hex(bytes))
    val segs = StreamStores.segmentStore(root, "s1")
    val meta = StreamStores.metaStore(root, "s1")
    segs.put(planted.name, bytes)
    MetaCommits.commitBulk(meta, 0L, Seq(planted))
    log.refresh()
    val (metaBefore, live) = (meta.readWithTag()._1, log.segments)
    assert(live.size == 2)

    val e = intercept[IllegalStateException](log.compactOnce(nowMs = c))
    assert(e.getMessage.contains("nothing committed"), e.getMessage)
    assert(meta.readWithTag()._1 == metaBefore, "the metadata log must not change")
    assert(log.segments == live, "the index must not change")
    log.refresh()
    assert(log.segments == live)
    val orphans = log.purgeOrphans(graceMs = 0)
    assert(orphans.size == 1 && !live.exists(_.name == orphans.head), orphans)
    assert(segs.list().map(_.name).toSet == live.map(_.name).toSet)
  }
}
