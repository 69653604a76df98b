package graft.perfbench

import java.nio.file.{Files, Path}

import graft.streamlog.{MetaStore, ObjectInfo, SegmentStore, StreamLog, StreamStores}

/** A [[MetaStore]] that times and counts every call it forwards, in
  * totals and under the `role` of the handle it serves. It
  * must forward EVERY member: a default it inherits instead would run
  * a different program (a missing `probeTag` turns HEAD probes into
  * whole-log GETs). */
final class TracedMetaStore(inner: MetaStore, rec: Recorder, role: String) extends MetaStore {
  override def readWithTag(): (Vector[String], Long) = rec.span("meta.read") {
    val r = inner.readWithTag()
    rec.count("meta.reads"); rec.count(s"$role.meta_reads")
    rec.count("meta.read_bytes", TracedStores.lineBytes(r._1))
    r
  }

  override def probeTag(): Long = rec.span("meta.probe") {
    rec.count("meta.probes"); rec.count(s"$role.meta_probes")
    inner.probeTag()
  }

  override def appendIf(tag: Long, lines: Seq[String]): Boolean = rec.span("meta.append") {
    val ok = inner.appendIf(tag, lines)
    afterWrite(ok)
    ok
  }

  override def replaceIf(tag: Long, lines: Seq[String]): Boolean = rec.span("meta.append") {
    val ok = inner.replaceIf(tag, lines)
    afterWrite(ok)
    ok
  }

  override def clear(): Unit = rec.span("meta.clear")(inner.clear())

  /** Size of the committed log, read untraced. */
  def logBytes: Long = TracedStores.lineBytes(inner.readWithTag()._1)

  // the handle's replay fast-forward reads lastCommitInfo off THIS
  // object, so the inner store's pair is copied after each landed write
  private def afterWrite(ok: Boolean): Unit = {
    rec.count("meta.appends")
    if (ok) lastCommitInfoVar = inner.lastCommitInfo
    else rec.count("meta.cas_conflicts")
  }
}

/** A [[SegmentStore]] that times and counts every call it forwards;
  * like [[TracedMetaStore]] it overrides every member, so range
  * streaming, rename commits and batch deletes reach the inner store
  * unchanged. */
final class TracedSegmentStore(inner: SegmentStore, rec: Recorder, role: String) extends SegmentStore {
  override def put(name: String, bytes: Array[Byte]): Unit = rec.span("segments.put") {
    inner.put(name, bytes)
    rec.count("segments.puts"); rec.count("segments.put_bytes", bytes.length.toLong)
  }

  override def get(name: String): Array[Byte] = rec.span("segments.get") {
    val b = inner.get(name)
    rec.count("segments.reads"); rec.count("segments.read_bytes", b.length.toLong)
    b
  }

  override def list(): Seq[ObjectInfo] = rec.span("segments.list")(inner.list())
  override def delete(name: String): Unit = rec.span("segments.delete")(inner.delete(name))
  override def deleteMany(names: Seq[String]): Unit =
    rec.span("segments.delete")(inner.deleteMany(names))
  override def deleteAll(): Unit = rec.span("segments.delete")(inner.deleteAll())
  override def sweepDebris(olderThanMs: Long, nowMs: Long): Seq[String] =
    rec.span("segments.sweep")(inner.sweepDebris(olderThanMs, nowMs))
  override def dropContainer(): Unit = inner.dropContainer()

  override def getLines(name: String): Vector[String] = rec.span("segments.get") {
    val ls = inner.getLines(name)
    rec.count("segments.reads"); rec.count("segments.read_bytes", TracedStores.lineBytes(ls))
    ls
  }

  /** Counts the segment as read when opened and its bytes as they are
    * consumed, so an early-exiting reader is charged only what it pulled. */
  override def linesIterator(name: String): Iterator[String] = {
    val it = rec.span("segments.open")(inner.linesIterator(name))
    rec.count("segments.reads"); rec.count(s"$role.segments_opened")
    if (!rec.enabled) it
    else {
      val bytes = rec.adder("segments.read_bytes")
      it.map { l => bytes.add(l.length + 1L); l }
    }
  }

  override def newSpool(hint: String): Path = inner.newSpool(hint)

  override def putFromFile(name: String, local: Path): Unit = rec.span("segments.put") {
    val n = Files.size(local)
    inner.putFromFile(name, local)
    rec.count("segments.puts"); rec.count("segments.put_bytes", n)
  }

  override def scanPaths(names: Seq[String]): Option[Seq[String]] = inner.scanPaths(names)
}

object TracedStores {
  /** Bytes of newline-terminated lines. Counted in chars, which equal
    * bytes for the ASCII the benchmark writes, so that counting does not
    * encode every line a traced run reads. */
  def lineBytes(lines: Seq[String]): Long = lines.iterator.map(_.length + 1L).sum

  /** A handle on `stream` under `root`: over traced stores in a traced
    * run (returning the meta store for end-of-run reads), else exactly
    * as a user opens one. */
  def open(ctx: Ctx, root: String, stream: String, role: String)
      : (StreamLog, Option[TracedMetaStore]) =
    if (!ctx.rec.enabled) (new StreamLog(ctx.spark, root, stream), None)
    else {
      val m = new TracedMetaStore(StreamStores.metaStore(root, stream), ctx.rec, role)
      val s = new TracedSegmentStore(StreamStores.segmentStore(root, stream), ctx.rec, role)
      (new StreamLog(ctx.spark, root, stream, m, s), Some(m))
    }
}
