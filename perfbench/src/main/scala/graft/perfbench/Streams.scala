package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.streamlog.StreamLog

/** Acknowledged records of one stream, in offset order, with the due
  * time of the publish call that carried each. */
final class Acked {
  val offsets = ArrayBuffer.empty[String]
  val payloads = ArrayBuffer.empty[String]
  private val due = scala.collection.mutable.HashMap.empty[String, Long]
  private val acks = scala.collection.mutable.HashMap.empty[String, Long]
  /** (due ns, publish due time → return in ms) of each timed call. */
  val ackMs = ArrayBuffer.empty[(Long, Double)]
  /** (due ns, publish start → return in ms) of each timed call. */
  val serviceMs = ArrayBuffer.empty[(Long, Double)]
  var userBytes = 0L

  def add(offs: Seq[String], recs: Seq[String], dueNs: Long, startNs: Long, ackNs: Long,
          timed: Boolean): Unit = synchronized {
    offsets ++= offs; payloads ++= recs
    offs.foreach(o => due(o) = if (timed) dueNs else Long.MinValue)
    if (timed) offs.foreach(o => acks(o) = ackNs)
    recs.foreach(r => userBytes += r.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    if (timed) {
      ackMs += ((dueNs, (ackNs - dueNs) / 1e6))
      serviceMs += ((dueNs, (ackNs - startNs) / 1e6))
    }
  }

  def size: Int = synchronized(offsets.size)
  def last: String = synchronized(offsets.lastOption.getOrElse(""))
  /** Due time of the call that published `offset`, if it was timed. */
  def dueOf(offset: String): Option[Long] = synchronized(due.get(offset).filter(_ != Long.MinValue))
  /** When the timed call that published `offset` returned. */
  def ackOf(offset: String): Option[Long] = synchronized(acks.get(offset))
}

/** What one consumer received, in arrival order, stamped on arrival. */
final class Seen {
  val offsets = ArrayBuffer.empty[String]
  val payloads = ArrayBuffer.empty[String]
  val arrivedNs = ArrayBuffer.empty[Long]
  @volatile var last: String = ""

  def add(recs: Seq[(String, String)], nowNs: Long): Unit = synchronized {
    recs.foreach { case (o, d) => offsets += o; payloads += d; arrivedNs += nowNs }
    if (recs.nonEmpty) last = recs.last._1
  }

  /** (due ns, publish due time → arrival in ms) for every record of a
    * timed call. */
  def visibleMs(acked: Acked): Seq[(Long, Double)] = synchronized {
    offsets.indices.flatMap(i => acked.dueOf(offsets(i)).map(d => (d, (arrivedNs(i) - d) / 1e6)))
  }

  /** (due ns, publish return → arrival in ms) for every record of a
    * timed call: the delivery path alone, without the publisher's queue. */
  def sinceAckMs(acked: Acked): Seq[(Long, Double)] = synchronized {
    offsets.indices.flatMap(i => for (d <- acked.dueOf(offsets(i)); a <- acked.ackOf(offsets(i)))
      yield (d, (arrivedNs(i) - a) / 1e6))
  }

  /** Every acknowledged record exactly once, in offset order, with its
    * payload; None when it holds, else what differs. */
  def mismatch(acked: Acked): Option[String] = acked.synchronized(synchronized {
    if (offsets != acked.offsets) {
      val i = offsets.indices.find(i => i >= acked.offsets.size || offsets(i) != acked.offsets(i))
        .getOrElse(offsets.size)
      Some(s"received ${offsets.size} records, acknowledged ${acked.offsets.size}; first difference at $i")
    } else if (payloads != acked.payloads) Some("payloads differ from the published records")
    else None
  })
}

object Streams {
  /** Read every record back through a FRESH handle, which replays the
    * metadata log as a cold start does. */
  def coldRead(ctx: Ctx, root: String, stream: String, expect: Int): Seq[(String, String)] =
    new StreamLog(ctx.spark, root, stream).consume(limit = expect + 1)

  def sameRecords(got: Seq[(String, String)], acked: Acked): Boolean = acked.synchronized {
    got.size == acked.offsets.size && got.map(_._1) == acked.offsets && got.map(_._2) == acked.payloads
  }

  /** Bytes streams hold in storage per byte of user payload they
    * carry: live segments, plus the inputs of every merge, still held
    * as tombstones for a day (merges conserve bytes, so those equal the
    * merged outputs' bytes), plus the metadata logs. */
  def bytesPerUserByte(logs: Seq[StreamLog], mergedBytes: Long, metaBytes: Long, userBytes: Long): Double =
    if (userBytes == 0) 0.0
    else (logs.map(_.segments.map(_.bytes).sum).sum + mergedBytes + metaBytes).toDouble / userBytes

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  /** A DataSource V2 batch scan of `stream` after the `pos`-th
    * acknowledged record, checked to return every later one: their
    * count and the sum of their CRC-32s. The aggregate reads every
    * record, where a bare count() would be answered from segment
    * metadata. Returns the records read and the scan's wall ms. */
  def scan(ctx: Ctx, root: String, stream: String, acked: Acked, pos: Int, tag: String): Option[(Long, Double)] = {
    val t = System.nanoTime()
    ctx.op(SparkProbe.inGroup(ctx.spark, SparkProbe.Scan)(ctx.rec.withRequest(tag)(ctx.rec.span("scan")(
      ctx.spark.read.format("streamlog").option("path", root).option("stream", stream)
        .option("after", acked.offsets(pos)).load()
        .selectExpr("count(offset)", "sum(crc32(data))").head()))))
      .map { row =>
        val ms = (System.nanoTime() - t) / 1e6
        ctx.rec.count("scan.calls")
        val n = row.getLong(0)
        val want = acked.synchronized(acked.payloads.iterator.drop(pos + 1).map(crc).sum)
        ctx.check(n == acked.size - pos - 1 && row.getLong(1) == want,
          s"$stream: scan after position $pos read $n records, expected ${acked.size - pos - 1}, or a checksum mismatch")
        (n, ms)
      }
  }

  /** Sleep until `deadlineNs` or until `stop` reads true. */
  def sleepUntil(deadlineNs: Long, stop: () => Boolean): Unit = {
    var now = System.nanoTime()
    while (now < deadlineNs && !stop()) {
      Thread.sleep(math.max(1L, math.min(50L, (deadlineNs - now) / 1000000L)))
      now = System.nanoTime()
    }
  }
}
