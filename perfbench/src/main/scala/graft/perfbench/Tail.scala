package graft.perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streamlog.{S3LiteServer, StreamLog, WireRetries}

/** `tail`: the live path on an object store. One stream on the in-repo
  * S3 simulator over loopback, with a fixed simulated round trip. An
  * open-loop publisher makes 20 `publish` calls a second of 50 seeded
  * records each; a `readStream` query and a `poll` loop on a second
  * handle stamp each record when it arrives; a benchmark thread runs
  * `maintain()` every 10 s under its own job group. */
object Tail {
  val Stream = "tail"
  val PublishesPerSec = 20.0
  val RecordsPerPublish = 50
  /** Simulated per-request round trip of the S3 simulator: the 10 ms
    * the repository's own S3 benchmark models (`BenchStreamlog`'s
    * range-read pair). */
  val RoundTripMs = 10L
  /** maintain() passes start this far into the measured window, then
    * every [[MaintainEveryMs]] while the window lasts: a 15 s window
    * holds one pass. */
  val MaintainFirstMs = 5000L
  val MaintainEveryMs = 10000L
  /** The readStream query's processing-time trigger. It fixes each
    * micro-batch at about 1,000 records (20 publishes), so every batch
    * does the same work whatever the host's speed. Triggered back to
    * back, a slower host made longer batches of more records, which
    * took longer again: in three pairs of runs at a 20 s window, taking
    * turns, `read_p50_ms` ranged over 17 % back to back and over 3 %
    * with this trigger. A batch takes about 490 ms, well inside the
    * interval. */
  val TriggerMs = 1000L
  /** After the window, a batch scan reads back about this many of the
    * last acknowledged records, give or take [[ScanJitter]]. */
  val ScanBack = 5000
  val ScanJitter = 500
  val SetupReps = 3
  /** Slices of the window: the detail line's per-slice medians, and the
    * stretches whose steal decides what the medians leave out. */
  val SliceNs = 2000000000L
  /** How much longer the window may publish to make up for stolen
    * slices. */
  val ExtraSeconds = 6
  /** The untimed publishing spells before and after the warm-up's
    * maintain() pass; see [[run]]. */
  val WarmUpSeconds = 5.0
  val SettleSeconds = 2.0
  val PollTimeoutMs = 500L
  val CatchUpMs = 60000L

  /** Requests the simulator has served, by method, and Range GETs. */
  private def wireCounts(s: S3LiteServer): Map[String, Int] =
    s.hitCounts + ("POST" -> s.posts) + ("RANGE" -> s.rangeGets)

  /** One set-up of the live path: server, stream, both consumers. */
  final class Rig(ctx: Ctx, rep: Int) {
    val server = new S3LiteServer()
    server.responseDelayMs = RoundTripMs
    val root = s"s3:${server.endpoint}/graft"
    val (pub, pubMeta) = TracedStores.open(ctx, root, Stream, "publish")
    val (pollLog, _) = TracedStores.open(ctx, root, Stream, "poll")
    val acked = new Acked
    val sink = new Seen
    val polled = new Seen
    private val stop = new AtomicBoolean(false)

    private val toSink: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      sink.add(rows.toSeq.map((r: Row) => (r.getString(0), r.getString(1))), System.nanoTime())
    }

    // the first call lands before both consumers start, so set-up does
    // not wait for the trigger's next tick
    publish(-1L - rep, System.nanoTime(), timed = false)

    val query: StreamingQuery = ctx.spark.readStream.format("streamlog")
      .option("path", root).option("stream", Stream).load()
      .writeStream
      .option("checkpointLocation", ctx.dir(s"tail-checkpoint-$rep").toString)
      .foreachBatch(toSink)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()

    private val poller = new Thread(() => {
      var cursor = graft.streamlog.Offset.Beginning
      while (!stop.get()) {
        ctx.rec.count("poll.calls")
        ctx.op(ctx.rec.span("poll")(pollLog.poll(cursor, 100000, PollTimeoutMs))).foreach { got =>
          if (got.nonEmpty) {
            polled.add(got, System.nanoTime())
            cursor = got.last._1
          }
        }
      }
    }, "perfbench-poll")
    poller.setDaemon(true)
    poller.start()

    /** Publish one call's records; timed calls carry their due time. */
    def publish(call: Long, dueNs: Long, timed: Boolean): Unit = {
      val recs = ctx.gen.batch(0, call, RecordsPerPublish)
      val start = System.nanoTime()
      ctx.op(ctx.rec.withRequest(s"publish-$call")(ctx.rec.span("publish")(pub.publish(recs))))
        .foreach { offs =>
          acked.add(offs, recs, dueNs, start, System.nanoTime(), timed)
          ctx.rec.count("publish.calls")
        }
    }

    /** Wait until both consumers hold the last acknowledged record. */
    def caughtUp(timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      val want = acked.last
      while ((sink.last != want || polled.last != want) && System.nanoTime() < deadline &&
             query.exception.isEmpty)
        Thread.sleep(5)
      sink.last == want && polled.last == want
    }

    def stopConsumers(): Unit = {
      stop.set(true)
      poller.join(10000)
      query.stop()
    }

    def close(): Unit = { stopConsumers(); server.stop() }
  }

  /** One set-up, timed from a bare simulator to a first published call
    * seen by both consumers. */
  private def setUp(ctx: Ctx, rep: Int): (Rig, Double) = {
    val t0 = System.nanoTime()
    val rig = new Rig(ctx, rep)
    ctx.check(rig.caughtUp(CatchUpMs), s"set-up $rep: consumers never saw the first record")
    (rig, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    val setups = ArrayBuffer.empty[Double]
    var rig: Rig = null
    for (rep <- 0 until SetupReps) {
      if (rig != null) rig.close()
      val (r, s) = setUp(ctx, rep)
      rig = r; setups += s
    }

    ctx.phase("set-up")
    // Warm-up, untimed: publish for WarmUpSeconds, run the first
    // maintain() pass with the publisher paused, publish SettleSeconds
    // more. That first pass merges the young stream's backlog; run
    // under load, its length would decide how many segments the window
    // starts with. The JIT's compile storm passes meanwhile.
    var call = 0L
    // steal ticks, read before every timed call
    val steal = new Host.StealTrack
    def publishFor(seconds: Double, timed: Boolean): OpenLoop = {
      val loop = new OpenLoop(PublishesPerSec)
      loop.run((seconds * 1e9).toLong) { (_, due) =>
        if (timed) steal.read()
        rig.publish(call, due, timed); call += 1
      }
      loop
    }
    // each pass: start s into its phase, wall s, merges, live segments after
    val passes = ArrayBuffer.empty[Seq[Double]]
    // bytes every pass merged, warm-up included: their inputs stay stored as tombstones
    val mergedBytes = new AtomicLong
    def maintainPass(tag: String, since: Long): Option[StreamLog.MaintenanceReport] = {
      val m0 = System.nanoTime()
      ctx.op(SparkProbe.inGroup(ctx.spark, SparkProbe.Maintain)(
        ctx.rec.withRequest(tag)(ctx.rec.span("maintain")(rig.pub.maintain()))))
        .map { rep =>
          passes.synchronized(passes += Seq((m0 - since) / 1e9, (System.nanoTime() - m0) / 1e9,
            rep.compacted.size.toDouble, rig.pub.segments.size.toDouble))
          mergedBytes.addAndGet(rep.compacted.map(_.bytes).sum)
          rep
        }
    }
    publishFor(WarmUpSeconds, timed = false)
    val w0 = System.nanoTime()
    // records the warm-up pass rewrote per second: compaction on the object store
    val warmUpRate = maintainPass("maintain-warm-up", w0)
      .map(_.compacted.map(_.records).sum / ((System.nanoTime() - w0) / 1e9)).getOrElse(0.0)
    publishFor(SettleSeconds, timed = false)

    ctx.phase("warm-up")
    ctx.rec.reset()
    ctx.tasks.foreach(_.reset())
    val mark = Host.start()
    val wire0 = wireCounts(rig.server)
    val retries0 = WireRetries.total
    val t0 = System.nanoTime()
    val generating = new AtomicBoolean(true)
    val maintainer = new Thread(() => {
      // only passes due inside the window, so their number is fixed
      var dueMs = MaintainFirstMs
      while (dueMs < ctx.args.seconds * 1000L && generating.get()) {
        Streams.sleepUntil(t0 + dueMs * 1000000L, () => !generating.get())
        if (generating.get()) {
          maintainPass(s"maintain-$dueMs", t0).foreach { rep =>
            val recs = rep.compacted.map(_.records).sum
            val bytes = rep.compacted.map(_.bytes).sum
            ctx.rec.count("maintain.passes"); ctx.rec.count("maintain.windows", rep.compacted.size.toLong)
            ctx.rec.count("maintain.records_rewritten", recs); ctx.rec.count("maintain.bytes_rewritten", bytes)
          }
        }
        dueMs += MaintainEveryMs
      }
    }, "perfbench-maintain")
    maintainer.start()
    // Publish for --seconds; then, while the hypervisor has stolen most
    // of the window's slices, on for a slice at a time, up to
    // ExtraSeconds more (see `unstolen` below)
    val windowSlices = ((ctx.args.seconds * 1000000000L + SliceNs - 1) / SliceNs).toInt
    def sliceSteal(untilNs: Long): Seq[Double] =
      (0 until ((untilNs - t0 + SliceNs - 1) / SliceNs).toInt).map(k => steal.cores(t0 + k * SliceNs, t0 + (k + 1) * SliceNs))
    def enoughUnstolen(steals: Seq[Double]): Boolean = steals.count(!Host.stolen(_)) * 2 >= windowSlices
    val loops = ArrayBuffer(publishFor(ctx.args.seconds, timed = true))
    steal.read()
    while (!enoughUnstolen(sliceSteal(System.nanoTime())) &&
           System.nanoTime() - t0 < (ctx.args.seconds + ExtraSeconds) * 1000000000L) {
      loops += publishFor(SliceNs / 1e9, timed = true)
      steal.read()
    }
    val sliceStolen = sliceSteal(System.nanoTime())
    val lateMs = loops.flatMap(_.lateMs)
    generating.set(false)
    maintainer.join()
    ctx.check(rig.caughtUp(CatchUpMs), "consumers did not catch up with the last acknowledged record")
    val window = Host.window(mark)
    val wire1 = wireCounts(rig.server)
    val retries = WireRetries.total - retries0
    rig.stopConsumers()
    ctx.phase("window")

    val acked = rig.acked
    val sinkBad = rig.sink.mismatch(acked)
    val pollBad = rig.polled.mismatch(acked)
    ctx.check(sinkBad.isEmpty, s"readStream: ${sinkBad.getOrElse("")}")
    ctx.check(pollBad.isEmpty, s"poll: ${pollBad.getOrElse("")}")
    ctx.check(ctx.op(Streams.sameRecords(Streams.coldRead(ctx, rig.root, Stream, acked.size), acked))
      .contains(true), "a fresh handle did not read back every acknowledged record")
    // the batch read path over the same wire: a DSv2 scan of the last records
    val scanFrom = ctx.gen.position(3, 0, acked.size - ScanBack - ScanJitter, acked.size - ScanBack + ScanJitter)
    val scan = Streams.scan(ctx, rig.root, Stream, acked, scanFrom, "scan-0")
    val metaBytes = rig.pubMeta.map(_.logBytes).getOrElse(0L)
    val liveEnd = rig.pub.segments.size
    rig.server.stop()

    val ack = Pct.summary(acked.ackMs.map(_._2))
    val visibleMs = rig.sink.visibleMs(acked)
    val visible = Pct.summary(visibleMs.map(_._2))
    val pollVisibleMs = rig.polled.visibleMs(acked)
    val pollVisible = Pct.summary(pollVisibleMs.map(_._2))
    // At 20 calls/s a publish's three round trips keep the publisher
    // busy most of each 50 ms slot, so due-time figures measure its
    // queue. The end-to-end slots time each call from its start and each
    // record from its acknowledgement; the detail line keeps both.
    val sinkSinceAck = rig.sink.sinceAckMs(acked)
    val pollSinceAck = rig.polled.sinceAckMs(acked)
    // Whole-window medians over the calls due in the slices the
    // hypervisor left alone (no more stolen than Host.stolen allows),
    // or, when those add up to less than half the window, in the least
    // stolen half.
    val keptSlices =
      if (enoughUnstolen(sliceStolen)) sliceStolen.indices.filterNot(k => Host.stolen(sliceStolen(k))).toSet
      else sliceStolen.indices.sortBy(sliceStolen).take((windowSlices + 1) / 2).toSet
    def unstolen(xs: Seq[(Long, Double)]): Seq[Double] =
      xs.filter { case (due, _) => keptSlices(((due - t0) / SliceNs).toInt) }.map(_._2)
    val e2e = Seq(
      Metric("setup_s", Pct.median(setups), "s"),
      Metric("ack_p50_ms", Pct.median(unstolen(acked.serviceMs.toSeq)), "ms"),
      Metric("read_p50_ms", Pct.median(unstolen(sinkSinceAck)), "ms"),
      Metric("aux_p50_ms", Pct.median(unstolen(pollSinceAck)), "ms"))

    val d = (n: String, k: String) => n -> (wire1(k) - wire0(k)).toDouble
    val wireOps = Seq("GET", "HEAD", "PUT", "DELETE", "POST").map(k => wire1(k) - wire0(k)).sum
    val timedRecords = acked.ackMs.size * RecordsPerPublish
    val r = ctx.rec
    val layer = Layers.common(ctx, window) ++ Map(
      "gen.late_ms_p99" -> Pct.of(lateMs, 99),
      "poll.probes" -> r.counter("poll.meta_probes").toDouble,
      "poll.refreshes" -> r.counter("poll.meta_reads").toDouble,
      "poll.useful_probe_ratio" -> (if (r.counter("poll.meta_probes") > 0)
        r.counter("poll.meta_reads").toDouble / r.counter("poll.meta_probes") else 0.0),
      "meta.log_bytes_end" -> metaBytes.toDouble,
      "segments.live_end" -> liveEnd.toDouble,
      "maintain.rewrite_records_per_s" -> warmUpRate,
      "storage.bytes_per_user_byte" -> Streams.bytesPerUserByte(Seq(rig.pub), mergedBytes.get,
        metaBytes, acked.userBytes),
      d("wire.gets", "GET"), d("wire.range_gets", "RANGE"), d("wire.puts", "PUT"),
      d("wire.heads", "HEAD"), d("wire.posts", "POST"), d("wire.deletes", "DELETE"),
      "wire.ops_per_record" -> (if (timedRecords > 0) wireOps.toDouble / timedRecords else 0.0),
      "wire.retries" -> retries.toDouble)

    Outcome(e2e, layer, Seq(
      "round_trip_ms" -> RoundTripMs.toString,
      "setup_s_each" -> setups.map(Json.num).mkString("[", ",", "]"),
      "publish_ack_ms" -> ack.json, "visible_ms" -> visible.json, "poll_visible_ms" -> pollVisible.json,
      "publish_service_ms" -> Pct.summary(acked.serviceMs.map(_._2)).json,
      "visible_since_ack_ms" -> Pct.summary(sinkSinceAck.map(_._2)).json,
      "poll_visible_since_ack_ms" -> Pct.summary(pollSinceAck.map(_._2)).json,
      "gen_late_ms" -> Pct.summary(lateMs).json,
      "maintain_passes" -> passes.map(_.map(Json.num).mkString("[", ",", "]")).mkString("[", ",", "]"),
      "visible_p50_ms_by_slice" -> Pct.bySlice(visibleMs, t0, SliceNs, 50).map(Json.num).mkString("[", ",", "]"),
      "poll_visible_p50_ms_by_slice" -> Pct.bySlice(pollVisibleMs, t0, SliceNs, 50).map(Json.num).mkString("[", ",", "]"),
      "steal_cores_by_slice" -> sliceStolen.map(Json.num).mkString("[", ",", "]"),
      "slices_kept" -> keptSlices.toSeq.sorted.mkString("[", ",", "]"),
      "read_p50_ms_all_slices" -> Json.num(Pct.median(sinkSinceAck.map(_._2))),
      "aux_p50_ms_all_slices" -> Json.num(Pct.median(pollSinceAck.map(_._2))),
      "visible_since_ack_p50_ms_by_slice" -> Pct.bySlice(sinkSinceAck, t0, SliceNs, 50).map(Json.num).mkString("[", ",", "]"),
      "poll_since_ack_p50_ms_by_slice" -> Pct.bySlice(pollSinceAck, t0, SliceNs, 50).map(Json.num).mkString("[", ",", "]"),
      "warm_up_maintain_records_per_s" -> Json.num(warmUpRate),
      "scan_ms" -> Json.num(scan.map(_._2).getOrElse(0.0)),
      "scan_records_per_s" -> Json.num(scan.map { case (n, ms) => n / (ms / 1e3) }.getOrElse(0.0))),
      window)
  }
}
