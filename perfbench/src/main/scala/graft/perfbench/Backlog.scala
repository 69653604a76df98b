package graft.perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import graft.streamlog.StreamLog

/** `backlog`: catch-up reads, publishing against a large metadata log,
  * scans and compaction, all on the default POSIX root. Set-up
  * publishes `history` (2,000 segments of 50 records, so a 2,000-line
  * metadata log) and `debt` (100 such segments). Timed, in order:
  *   1. a closed-loop client pages `consume(after = seeded offset,
  *      limit = 500)` while an open-loop publisher adds 5 calls a
  *      second to `history`;
  *   2. DataSource V2 batch scans of `history` from seeded offsets;
  *   3. one `maintain()` of `debt`.
  * The micro-batch source and the S3 wire stay idle. */
object Backlog {
  val History = "history"
  val Debt = "debt"
  val HistorySegments = 2000
  val DebtSegments = 100
  val RecordsPerPublish = 50
  val PublishesPerSec = 5.0
  val PageSize = 500
  /** The first scan runs cold, the second warm; `aux_p50_ms` is their
    * mean. Over 10 seeds the warm scan alone spread 0.24 of its median,
    * the mean 0.09. */
  val Scans = 2
  /** Each scan starts this many set-up records before the end, give or
    * take [[ScanJitter]], so every scan reads about the same number of
    * records: these plus what phase 1 published. */
  val ScanBack = 1000
  val ScanJitter = 100
  val SetupReps = 2
  /** The client pages untimed this long before phase 1. */
  val ClientWarmUpNs = 1000000000L
  /** End-to-end latencies are medians over slices of this length. */
  val SliceNs = 2000000000L

  final class Rig(ctx: Ctx, rep: Int) {
    val root = ctx.dir(s"backlog-root-$rep").toString
    val (history, historyMeta) = TracedStores.open(ctx, root, History, "publish")
    val (debt, debtMeta) = TracedStores.open(ctx, root, Debt, "maintain")
    val historyAcked = new Acked
    val debtAcked = new Acked

    def publish(log: StreamLog, acked: Acked, stream: Int, call: Long, dueNs: Long, timed: Boolean): Unit = {
      val recs = ctx.gen.batch(stream, call, RecordsPerPublish)
      val start = System.nanoTime()
      ctx.op(ctx.rec.withRequest(s"publish-$stream-$call")(ctx.rec.span("publish")(log.publish(recs))))
        .foreach { offs =>
          acked.add(offs, recs, dueNs, start, System.nanoTime(), timed)
          ctx.rec.count("publish.calls")
        }
    }
  }

  private def setUp(ctx: Ctx, rep: Int): (Rig, Double) = {
    val t0 = System.nanoTime()
    val rig = new Rig(ctx, rep)
    for (i <- 0 until HistorySegments) rig.publish(rig.history, rig.historyAcked, 1, i, 0L, timed = false)
    for (i <- 0 until DebtSegments) rig.publish(rig.debt, rig.debtAcked, 2, i, 0L, timed = false)
    (rig, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    // The set-ups run side by side, each on a root of its own, so a run
    // pays for about one of them; each is timed alone.
    val done = new Array[(Rig, Double)](SetupReps)
    val threads = (0 until SetupReps).map(rep => new Thread(() => done(rep) = setUp(ctx, rep), s"perfbench-setup-$rep"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val setups = done.map(_._2).toSeq
    done.init.foreach(d => Main.deleteTree(java.nio.file.Paths.get(d._1.root)))
    val rig = done.last._1
    ctx.phase("set-up")
    val hist = rig.historyAcked
    val setupRecords = hist.size
    val (client, _) = TracedStores.open(ctx, rig.root, History, "consume")

    /** One client page at the `i`-th seeded cursor for purpose `tag`,
      * checked against the seeded records; its (start ns, ms) if timed. */
    def page(tag: Int, i: Long): Option[(Long, Double)] = {
      val pos = ctx.gen.position(tag, i, 0, setupRecords - PageSize)
      val t = System.nanoTime()
      ctx.op(ctx.rec.withRequest(s"consume-$tag-$i")(ctx.rec.span("consume")(client.consume(hist.offsets(pos), PageSize))))
        .map { page =>
          val ms = (System.nanoTime() - t) / 1e6
          ctx.rec.count("consume.calls"); ctx.rec.count("consume.records", page.size.toLong)
          ctx.check(page.size == PageSize &&
            page.indices.forall(k => page(k)._1 == hist.offsets(pos + 1 + k) && page(k)._2 == hist.payloads(pos + 1 + k)),
            s"consume after position $pos returned a page unlike the seeded records")
          (t, ms)
        }
    }

    // the client's JIT warm-up, untimed
    val warmEnd = System.nanoTime() + ClientWarmUpNs
    var w = 0L
    while (System.nanoTime() < warmEnd) { page(0, w); w += 1 }

    ctx.rec.reset()
    val mark = Host.start()

    // 1. catch-up pages under an open-loop publisher
    val t0 = System.nanoTime()
    val publishing = new AtomicBoolean(true)
    // (start ns, call ms) of each consume call
    val consumeMs = ArrayBuffer.empty[(Long, Double)]
    val consumer = new Thread(() => {
      var i = 0L
      while (publishing.get()) { page(1, i).foreach(consumeMs += _); i += 1 }
    }, "perfbench-consume")
    consumer.start()
    val loop = new OpenLoop(PublishesPerSec)
    loop.run(ctx.args.seconds * 1000000000L)((i, due) =>
      rig.publish(rig.history, hist, 1, HistorySegments + i, due, timed = true))
    publishing.set(false)
    consumer.join()

    ctx.phase("catch-up window")
    // 2. scans from seeded offsets
    val scans = (0 until Scans).flatMap { k =>
      val pos = ctx.gen.position(2, k, setupRecords - ScanBack - ScanJitter, setupRecords - ScanBack + ScanJitter)
      Streams.scan(ctx, rig.root, History, hist, pos, s"scan-$k")
    }
    val scanMs = scans.map(_._2)
    val scanned = scans.map(_._1).sum

    ctx.phase("scans")
    // 3. one maintain() of the debt stream
    val debtBefore = rig.debt.consume(limit = Int.MaxValue)
    val m0 = System.nanoTime()
    val report = ctx.op(SparkProbe.inGroup(ctx.spark, SparkProbe.Maintain)(
      ctx.rec.withRequest("maintain-0")(ctx.rec.span("maintain")(rig.debt.maintain()))))
    val maintainS = (System.nanoTime() - m0) / 1e9
    val window = Host.window(mark)
    ctx.phase("maintain")
    val rewritten = report.map(_.compacted.map(_.records).sum).getOrElse(0L)
    val mergedBytes = report.map(_.compacted.map(_.bytes).sum).getOrElse(0L)
    report.foreach { r =>
      ctx.rec.count("maintain.passes"); ctx.rec.count("maintain.windows", r.compacted.size.toLong)
      ctx.rec.count("maintain.records_rewritten", rewritten); ctx.rec.count("maintain.bytes_rewritten", mergedBytes)
    }
    val debtAfter = rig.debt.consume(limit = Int.MaxValue)
    ctx.check(debtBefore == debtAfter && Streams.sameRecords(debtAfter, rig.debtAcked),
      "debt: content changed across maintain()")
    ctx.check(ctx.op(Streams.sameRecords(Streams.coldRead(ctx, rig.root, History, hist.size), hist)).contains(true),
      "history: a fresh handle did not read back every acknowledged record")

    val ack = Pct.summary(hist.ackMs.map(_._2))
    val consume = Pct.summary(consumeMs.map(_._2))
    val scanRate = if (scanMs.sum > 0) scanned / (scanMs.sum / 1e3) else 0.0
    val maintainRate = if (maintainS > 0) rewritten / maintainS else 0.0
    val e2e = Seq(
      Metric("setup_s", Pct.median(setups), "s"),
      Metric("ack_p50_ms", Pct.sliceMedian(hist.ackMs.toSeq, t0, SliceNs, 50), "ms"),
      Metric("read_p50_ms", Pct.sliceMedian(consumeMs.toSeq, t0, SliceNs, 50), "ms"),
      Metric("aux_p50_ms", if (scanMs.nonEmpty) scanMs.sum / scanMs.size else 0.0, "ms"))

    val metaBytes = Seq(rig.historyMeta, rig.debtMeta).flatten.map(_.logBytes)
    val layer = Layers.common(ctx, window) ++ Map(
      "gen.late_ms_p99" -> Pct.of(loop.lateMs, 99),
      "meta.log_bytes_end" -> rig.historyMeta.map(_.logBytes.toDouble).getOrElse(0.0),
      "segments.live_end" -> (rig.history.segments.size + rig.debt.segments.size).toDouble,
      "maintain.rewrite_records_per_s" -> maintainRate,
      "storage.bytes_per_user_byte" -> Streams.bytesPerUserByte(Seq(rig.history, rig.debt), mergedBytes,
        metaBytes.sum, hist.userBytes + rig.debtAcked.userBytes))

    Outcome(e2e, layer, Seq(
      "setup_s_each" -> setups.map(Json.num).mkString("[", ",", "]"),
      "publish_ack_ms" -> ack.json, "consume_ms" -> consume.json,
      "consume_p50_ms_by_slice" -> Pct.bySlice(consumeMs.toSeq, t0, SliceNs, 50).map(Json.num).mkString("[", ",", "]"),
      "scan_ms" -> Pct.summary(scanMs).json,
      "scan_records_per_s" -> Json.num(scanRate),
      "maintain_s" -> Json.num(maintainS), "maintain_records_per_s" -> Json.num(maintainRate),
      "maintain_records_rewritten" -> rewritten.toString),
      window)
  }
}
