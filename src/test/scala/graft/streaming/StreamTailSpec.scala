package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streamlog.StreamLog

/** Structured-Streaming twins of the batch event ops: file-source tail
  * over the segment log (long-poll semantics), watermarked tumbling
  * windows, and flatMapGroupsWithState sessionization.
  */
class StreamTailSpec extends SparkSpec {

  private def freshLog(): StreamLog = {
    val root = Files.createTempDirectory("graft-tail").toString
    new StreamLog(spark, root, "s")
  }

  private def ev(ts: Long, user: Long, v: Double): String =
    s"""{"ts":$ts,"user_id":$user,"value":$v}"""

  test("tail delivers newly flushed segments (streaming long-poll)") {
    val log = freshLog()
    log.publish(Seq(ev(60000, 1, 1.0), ev(61000, 2, 2.0)))
    val q = StreamTail.records(spark, log).writeStream
      .format("memory").queryName("tail_t").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM tail_t").head().getLong(0) == 2)

    // a new flush = a new segment file = the poke; a fresh pass sees it
    log.publish(Seq(ev(62000, 1, 3.0)))
    val q2 = StreamTail.records(spark, log).writeStream
      .format("memory").queryName("tail_t2").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM tail_t2").head().getLong(0) == 3)
    log.destroy()
  }

  test("enrich joins the tail with a static dimension per micro-batch") {
    import spark.implicits._
    val log = freshLog()
    log.publish(Seq(ev(60000, 1, 1.0), ev(61000, 2, 2.0), ev(62000, 9, 9.0)))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamTail.enrich(StreamTail.events(StreamTail.records(spark, log)), dim)
      .select($"user_id", $"value", $"tier")
      .writeStream.format("memory").queryName("enrich_t").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user_id, value, tier FROM enrich_t ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq(
      (1L, 1.0, Some("gold")),
      (2L, 2.0, Some("silver")),
      (9L, 9.0, None))) // unmatched events pass through with nulls
    log.destroy()
  }

  test("appendBatch and sinkTo produce INTO the log; publish continues after") {
    import spark.implicits._
    val log = freshLog()
    // batch produce: offsets dense and ordered by the given key
    StreamTail.appendBatch(log,
      Seq(("b", 2L), ("a", 1L), ("c", 3L)).toDF("data", "k"),
      orderBy = Seq("k"), nowMs = () => 8000000L)
    val got = log.consume(graft.streamlog.Offset.Beginning, 100)
    assert(got.map(_._2) == Seq("a", "b", "c"))
    assert(got.map(_._1) == got.map(_._1).sorted)

    // streaming produce: a MemoryStream drained through foreachBatch
    val ms = MemoryStream[String](spark)
    ms.addData("d", "e")
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val q = StreamTail.sinkTo(ms.toDF().withColumnRenamed("value", "data"),
      log, ckpt, orderBy = Seq("data"))
    try q.processAllAvailable() finally q.stop()
    assert(log.consume(graft.streamlog.Offset.Beginning, 100).map(_._2) ==
      Seq("a", "b", "c", "d", "e"))

    // the stream stays appendable by the owning writer afterwards
    val more = log.publish(Seq("f"))
    assert(more.head > log.segments.init.last.lastOffset)
    assert(log.consume(graft.streamlog.Offset.Beginning, 100).map(_._2).last == "f")
    log.destroy()
  }

  test("tail and appendBatch address the log's own stream on a mem: root") {
    import spark.implicits._
    // a bucket-rooted log has no local directory to hand on:
    // both directions must resolve the stream from log.root
    val log = new StreamLog(spark, s"mem:tail-${java.util.UUID.randomUUID()}", "s")
    log.publish(Seq(ev(60000, 1, 1.0), ev(61000, 2, 2.0)))
    val q = StreamTail.records(spark, log).writeStream
      .format("memory").queryName("tail_mem").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM tail_mem").head().getLong(0) == 2)

    StreamTail.appendBatch(log, Seq(("a", 1L)).toDF("data", "k"),
      orderBy = Seq("k"))
    assert(log.consume(graft.streamlog.Offset.Beginning, 100).map(_._2).last == "a")
    assert(log.segments.size == 2)
    log.destroy()
  }

  test("tail does not re-deliver records after compaction rewrites them") {
    val log = freshLog()
    var t = 8000000L
    val c: () => Long = () => { t += 1000; t }
    val all = (1 to 3).flatMap(_ => log.publish(Seq(ev(t, 1, 1.0)), nowMs = c))
    val ckpt = Files.createTempDirectory("graft-tail-ck").toString
    val outDir = Files.createTempDirectory("graft-tail-out").toString
    def drain(): Unit = {
      val q = StreamTail.records(spark, log).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain()
    assert(spark.read.parquet(outDir).count() == 3)
    // compaction rewrites the 3 records into a NEW segment file; the
    // offset-cursor source must not re-deliver them on the next pass
    log.compactOnce(nowMs = c)
    val extra = log.publish(Seq(ev(t, 2, 2.0)), nowMs = c)
    drain()
    val out = spark.read.parquet(outDir).select("offset")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out == (all ++ extra), "re-delivered compacted records")
    log.destroy()
  }

  test("kill/restart: the checkpointed cursor survives a forced stop, with a compaction while down") {
    val log = freshLog()
    var t = 9000000L
    val c: () => Long = () => { t += 1000; t }
    val ckpt = Files.createTempDirectory("graft-kill-ck").toString
    val outDir = Files.createTempDirectory("graft-kill-out").toString
    def start() = StreamTail.records(spark, log).writeStream
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    def committed(): Long =
      try spark.read.parquet(outDir).count() catch { case _: Exception => 0L }
    def awaitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (committed() < n && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(committed() == n, s"expected $n committed rows, got ${committed()}")
    }

    val batch1 = log.publish(Seq(ev(t, 1, 1.0), ev(t, 2, 2.0)), nowMs = c)
    val q1 = start()
    awaitCount(2)
    q1.stop() // forced kill of a RUNNING query (not a natural AvailableNow end)

    // while the consumer is down: more data arrives AND compaction
    // rewrites every already-delivered record into a new segment file
    val batch2 = log.publish(Seq(ev(t, 1, 3.0), ev(t, 3, 4.0)), nowMs = c)
    log.compactOnce(nowMs = c)

    val q2 = start()
    awaitCount(4)
    q2.stop()
    val out = spark.read.parquet(outDir).select("offset")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out == (batch1 ++ batch2).sorted,
      "loss or re-delivery across kill/restart + compaction")
    log.destroy()
  }

  test("watermarked tumbling window aggregation over the tail") {
    val log = freshLog()
    // two 1-minute windows: [60000,120000) has 2 events, [120000,180000) has 1
    log.publish(Seq(ev(60000, 1, 1.5), ev(90000, 2, 2.5), ev(120000, 1, 4.0)))
    val agg = StreamTail.windowedAgg(StreamTail.events(StreamTail.records(spark, log)))
    val q = agg.writeStream
      .format("memory").queryName("win_t").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT * FROM win_t ORDER BY window_ms").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((60000L, 2L, 4.0), (120000L, 1L, 4.0)))
    log.destroy()
  }

  test("rateAnomalies composes over a streaming windowed count: spike planted in batch 1 flags once batches 1-3 accumulate") {
    import org.apache.spark.sql.functions._
    import graft.operators.EventOps
    val log = freshLog()
    val stepSec = 600L
    def tev(t: String, w: Long, i: Long): String =
      s"""{"t":"$t","ts":${(w * stepSec + i) * 1000L}}"""
    // the in-stream half: watermarked per-(type, window) count — the
    // exact aggregation rateAnomalies' scaladoc claims is
    // streaming-compatible. Append mode = finalized windows only, the
    // "counts table" of the deployment split.
    val counts = StreamTail.records(spark, log).select(
        get_json_object(col("data"), "$.t").as("event_type"),
        timestamp_millis(get_json_object(col("data"), "$.ts").cast("long")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(col("event_type"), window(col("ts"), s"$stepSec seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), unix_millis(col("w.start")).as("window_start_ms"),
        col("n_events"))
    val q = counts.writeStream.format("memory").queryName("ra_counts")
      .outputMode("append").start()
    try {
      // 30 windows of type a, 10 events each — except window 7 (inside
      // micro-batch 1) spikes to 100. Three publishes = three
      // micro-batches; a far-future sentinel closes a's last windows.
      log.publish((0L until 10L).flatMap(w =>
        (0L until (if (w == 7) 100L else 10L)).map(i => tev("a", w, i))))
      q.processAllAvailable()
      log.publish((10L until 20L).flatMap(w => (0L until 10L).map(i => tev("a", w, i))))
      q.processAllAvailable()
      log.publish((20L until 30L).flatMap(w => (0L until 10L).map(i => tev("a", w, i)))
        :+ tev("zz", 1000L, 0L))
      q.processAllAvailable()

      val sink = spark.table("ra_counts").filter(col("event_type") === "a")
      assert(sink.count() == 30, "all 30 finalized windows must have accumulated")
      // the fit-over-history half, over the accumulated counts table
      val flagged = try EventOps.rateAnomaliesFromCounts(sink, stepSec).collect()
      finally graft.core.Caches.release()
      assert(flagged.map(r => (r.getString(0), r.getLong(1) / (stepSec * 1000L),
        r.getLong(2))).toSeq == Seq(("a", 7L, 100L)))
      // and it equals the BATCH operator over the same raw events
      val raw = (0L until 30L).flatMap(w =>
        (0L until (if (w == 7) 100L else 10L)).map(i =>
          ("a", new java.sql.Timestamp((w * stepSec + i) * 1000L))))
      import spark.implicits._
      val batch = try EventOps.rateAnomalies(raw.toDF("event_type", "ts"),
        col("ts"), col("event_type"), stepSec).collect()
      finally graft.core.Caches.release()
      assert(flagged.toSeq == batch.toSeq,
        "streaming-composed and batch rateAnomalies must agree row-for-row")
    } finally q.stop()
    log.destroy()
  }

  test("cusum composes over the same streaming counts table: the level shift flags batch-identically") {
    import org.apache.spark.sql.functions._
    import graft.operators.EventOps
    val log = freshLog()
    val stepSec = 600L
    def tev(w: Long, i: Long): String =
      s"""{"t":"a","ts":${(w * stepSec + i) * 1000L}}"""
    val counts = StreamTail.records(spark, log).select(
        get_json_object(col("data"), "$.t").as("event_type"),
        timestamp_millis(get_json_object(col("data"), "$.ts").cast("long")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(col("event_type"), window(col("ts"), s"$stepSec seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), unix_millis(col("w.start")).as("window_start_ms"),
        col("n_events"))
    val q = counts.writeStream.format("memory").queryName("cu_counts")
      .outputMode("append").start()
    try {
      // a sustained LEVEL SHIFT, not a spike: windows 0-19 at ~10
      // events (alternating 9/11), windows 20-39 at 14 — the shape the
      // per-window z-test misses and CUSUM exists for; arrives across
      // three micro-batches with a sentinel closing the last windows
      def n(w: Long): Long = if (w < 20) (if (w % 2 == 0) 9L else 11L) else 14L
      log.publish((0L until 15L).flatMap(w => (0L until n(w)).map(i => tev(w, i))))
      q.processAllAvailable()
      log.publish((15L until 30L).flatMap(w => (0L until n(w)).map(i => tev(w, i))))
      q.processAllAvailable()
      log.publish((30L until 40L).flatMap(w => (0L until n(w)).map(i => tev(w, i)))
        :+ s"""{"t":"zz","ts":${1000L * stepSec * 1000L}}""")
      q.processAllAvailable()

      val sink = spark.table("cu_counts").filter(col("event_type") === "a")
      assert(sink.count() == 40, "all 40 finalized windows must have accumulated")
      // the per-window z-test over the same table misses the shift...
      val z = try EventOps.rateAnomaliesFromCounts(sink, stepSec).collect()
      finally graft.core.Caches.release()
      assert(z.isEmpty, "the drift must be invisible to the spike test")
      // ...CUSUM over the accumulated counts catches it, upward, inside
      // the shifted region, identically to the batch run on equal data
      val alarms = try EventOps.cusum(sink, col("event_type"),
        col("window_start_ms"), col("n_events")).collect()
      finally graft.core.Caches.release()
      assert(alarms.nonEmpty)
      // the pooled self-calibrated mean straddles both levels, so the
      // LOW pre-shift region legitimately drifts downward too — the
      // load-bearing claim is an UPWARD alarm inside the shifted region
      assert(alarms.exists(a => a.getInt(2) == 1 &&
        a.getLong(1) / (stepSec * 1000L) >= 20L),
        s"upward alarm in the shift: ${alarms.mkString(";")}")
      import spark.implicits._
      val batchCounts = (0L until 40L).map(w =>
        ("a", w * stepSec * 1000L, n(w))).toDF(
        "event_type", "window_start_ms", "n_events")
      val batch = try EventOps.cusum(batchCounts, col("event_type"),
        col("window_start_ms"), col("n_events")).collect()
      finally graft.core.Caches.release()
      assert(alarms.map(_.toString).toSeq === batch.map(_.toString).toSeq,
        "streaming-composed and batch cusum must agree row-for-row")
    } finally q.stop()
    log.destroy()
  }

  test("topTerms composes over a streaming windowed term count across micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.operators.EventOps
    val log = freshLog()
    val stepSec = 600L
    def tev(term: String, w: Long, i: Long): String =
      s"""{"term":"$term","ts":${(w * stepSec + i) * 1000L}}"""
    // in-stream half: watermarked per-(window, term) count, append mode
    val counts = StreamTail.records(spark, log).select(
        get_json_object(col("data"), "$.term").as("term"),
        timestamp_millis(get_json_object(col("data"), "$.ts").cast("long")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"$stepSec seconds").as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("term"), col("n"))
    val q = counts.writeStream.format("memory").queryName("tt_counts")
      .outputMode("append").start()
    try {
      // window 0: x dominates; window 1: y dominates — with window 1's
      // events split ACROSS two micro-batches so its counts only
      // complete in the accumulated table, never in one batch
      log.publish((0L until 5L).map(i => tev("x", 0, i)) ++
        (0L until 2L).map(i => tev("y", 0, i)) ++
        (0L until 3L).map(i => tev("y", 1, i)))
      q.processAllAvailable()
      log.publish((3L until 7L).map(i => tev("y", 1, i)) ++
        (0L until 2L).map(i => tev("x", 1, i + 100)) :+ tev("zz", 1000L, 0L))
      q.processAllAvailable()
      log.publish(Seq(tev("zz", 2000L, 0L))) // close window 1's count
      q.processAllAvailable()

      val sink = spark.table("tt_counts").filter(col("term") =!= "zz")
      val got = EventOps.topTermsFromCounts(sink, k = 2).collect()
        .map(r => (r.getLong(0) / (stepSec * 1000L), r.getString(1),
          r.getLong(2), r.getInt(3))).toSeq
      assert(got == Seq((0L, "x", 5L, 1), (0L, "y", 2L, 2),
        (1L, "y", 7L, 1), (1L, "x", 2L, 2)))
      // and it equals the BATCH operator over the same raw events
      val raw = Seq.tabulate(5)(i => ("x", 0L, i.toLong)) ++
        Seq.tabulate(2)(i => ("y", 0L, i.toLong)) ++
        Seq.tabulate(7)(i => ("y", 1L, i.toLong)) ++
        Seq(("x", 1L, 100L), ("x", 1L, 101L))
      import spark.implicits._
      val batch = EventOps.topTermsPerWindow(
        raw.map { case (t, w, i) =>
          (t, new java.sql.Timestamp((w * stepSec + i) * 1000L))
        }.toDF("term", "ts"), col("ts"), col("term"), stepSec, k = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      val gotMs = got.map { case (w, t, n, rk) => (w * stepSec * 1000L, t, n, rk) }
      assert(gotMs == batch,
        "streaming-composed and batch topTerms must agree row-for-row")
    } finally q.stop()
    log.destroy()
  }

  test("streaming exact dedup keeps one record per payload within the watermark") {
    val log = freshLog()
    // 5 publishes, 2 duplicate payloads — dedup keys on md5(data)
    log.publish(Seq(ev(60000, 1, 1.0), ev(61000, 2, 2.0), ev(60000, 1, 1.0)))
    log.publish(Seq(ev(62000, 3, 3.0), ev(61000, 2, 2.0)))
    val q = StreamTail.dedupExact(StreamTail.records(spark, log)).writeStream
      .format("memory").queryName("dedup_t").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT content_hash, count(*) c FROM dedup_t GROUP BY 1")
      .collect()
    assert(rows.length == 3, s"expected 3 distinct payloads, got ${rows.toSeq}")
    assert(rows.forall(_.getLong(1) == 1), "a payload was delivered twice")
    log.destroy()
  }

  test("stream-stream interval join pairs events within the band per user") {
    val log = freshLog()
    // user 1: left at 120s pairs with rights at 60s(no: 60s band? see below)
    log.publish(Seq(ev(60000, 1, 1.0), ev(100000, 1, 2.0), ev(120000, 1, 3.0),
      ev(119000, 2, 4.0)))
    val events = StreamTail.events(StreamTail.records(spark, log))
    val joined = StreamTail.intervalJoin(events, events, band = "1 minute")
    val q = joined.writeStream
      .format("memory").queryName("ij_t").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val pairs = spark.sql("SELECT l_user, unix_millis(l_ts) l, unix_millis(r_ts) r FROM ij_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // per user, every (l, r) with l-60000 <= r <= l (self-pairs included)
    val evs = Seq((1L, 60000L), (1L, 100000L), (1L, 120000L), (2L, 119000L))
    val expected = (for {
      (ul, l) <- evs; (ur, r) <- evs
      if ul == ur && r <= l && r >= l - 60000
    } yield (ul, l, r)).sorted
    assert(pairs == expected)
    log.destroy()
  }

  test("streaming near-dup: band buckets remember their first owner across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog today"
    val textB = "completely different words appear in this other document here now"
    val input = MemoryStream[(Long, String)]
    val hits = StreamTail.nearDupCandidates(
      input.toDS().toDF("doc_id", "text"), n = 3, seeds = 16, bands = 4)
    val q = hits.writeStream
      .format("memory").queryName("neardup_t").outputMode("append").start()
    try {
      // batch 1: two identical docs — 1 claims every bucket, 2 matches it
      input.addData((1L, textA), (2L, textA))
      q.processAllAvailable()
      // batch 2: another copy of A (state remembers 1) + a novel doc
      input.addData((3L, textA), (4L, textB))
      q.processAllAvailable()
      // batch 3: a copy of B — matches 4 across the batch boundary
      input.addData((5L, textB))
      q.processAllAvailable()
      val all = spark.sql("SELECT doc_id, band, owner FROM neardup_t").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      // every doc probes all 4 bands exactly once
      assert(all.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ==
        (1L to 5L).map(_ -> Seq(0, 1, 2, 3)).toMap)
      // identical text ⇒ identical signatures ⇒ every band resolves to
      // the bucket's first owner, including across micro-batches
      assert(all.filter(_._1 == 1L).forall(_._3 == 1L))
      assert(all.filter(_._1 == 2L).forall(_._3 == 1L))
      assert(all.filter(_._1 == 3L).forall(_._3 == 1L))
      assert(all.filter(_._1 == 4L).forall(_._3 == 4L))
      assert(all.filter(_._1 == 5L).forall(_._3 == 4L))
      // the sink-side rollup: novel docs own themselves, copies point home
      val verdict = StreamTail.nearDupVerdict(
        spark.sql("SELECT doc_id, band, owner FROM neardup_t"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(verdict(1L) == ((4L, false, -1L)) && verdict(4L) == ((4L, false, -1L)))
      assert(verdict(2L) == ((4L, true, 1L)) && verdict(3L) == ((4L, true, 1L)))
      assert(verdict(5L) == ((4L, true, 4L)))
    } finally q.stop()
    // a doc shorter than n tokens emits no band rows (no n-gram evidence)
    val short = MemoryStream[(Long, String)]
    val q2 = StreamTail.nearDupCandidates(short.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_short").outputMode("append").start()
    try {
      short.addData((9L, "too short"))
      q2.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM neardup_short").head().getLong(0) == 0L)
    } finally q2.stop()
    intercept[IllegalArgumentException](
      StreamTail.nearDupCandidates(short.toDS().toDF("doc_id", "text"), seeds = 10, bands = 4))
  }

  test("streaming weighted reservoir: admissions journal reconstructs the batch sample exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    val a = (1L to 30L).map(i => ("a", i, (i % 7 + 1).toDouble))
    val b = Seq(("b", 101L, 2.0), ("b", 102L, 5.0), ("b", 103L, 1.0))
    val input = MemoryStream[(String, Long, Double)]
    val admits = StreamTail.weightedReservoir(
      input.toDS().toDF("src", "doc_id", "w"),
      weight = col("w"), k = 5, group = col("src"), key = col("doc_id"))
    val q = admits.writeStream.format("memory").queryName("reservoir_t")
      .outputMode("append").start()
    try {
      input.addData(a.take(10) ++ b.take(1): _*)
      q.processAllAvailable()
      // batch 1: at most k admits for group a, plus b's single row
      assert(spark.sql("SELECT count(*) FROM reservoir_t").head().getLong(0) <= 6L)
      // batch 2 carries a poison zero-weight row — dropped in-stream
      input.addData((a.slice(10, 20) :+ (("a", 999L, 0.0))) ++ b.slice(1, 2): _*)
      q.processAllAvailable()
      input.addData(a.slice(20, 30) ++ b.slice(2, 3): _*)
      q.processAllAvailable()
      val journal = spark.sql("SELECT group, doc_id, race FROM reservoir_t")
      val rows = journal.collect()
      assert(!rows.exists(_.getString(1) == "999"), "zero weight must not poison")
      // the final sample from the journal equals the BATCH twin on the
      // same (clean) data — same rows, same race order
      val sample = StreamTail.reservoirSample(journal, 5).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val batch = Sampling.weightedSamplePerGroup(
        (a ++ b).toDF("src", "doc_id", "w"),
        col("src"), col("doc_id"), col("w"), k = 5).collect()
        .map(r => (r.getString(0), r.getLong(1).toString))
      assert(sample.toSeq === batch.toSeq)
      // journal replay tolerance: duplicating the whole journal (the
      // at-least-once sink shape) changes nothing in the rollup
      val doubled = StreamTail.reservoirSample(journal.union(journal), 5)
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(doubled.toSeq === sample.toSeq)
      // an under-k group keeps everything it ever saw
      assert(sample.count(_._1 == "b") === 3)
      // the journal is an admissions log, not the stream: fewer rows
      // than arrivals, never fewer than the reservoir
      val nA = rows.count(_.getString(0) == "a")
      assert(nA >= 5 && nA < 30, s"admissions for a: $nA")
      // a non-numeric key streams fine (identity is a string)
      assert(rows.forall(_.getString(1).nonEmpty))
    } finally q.stop()
    intercept[IllegalArgumentException](StreamTail.weightedReservoir(
      input.toDS().toDF("src", "doc_id", "w"), col("w"), k = 0))
  }

  test("stateful sessionization closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamTail.SessionEvent]
    val out = StreamTail.sessionize(input.toDS(), gapMs = 1000)
    val q = out.writeStream
      .format("memory").queryName("sess_t").outputMode("append").start()
    // batch 1: user 1 has two sessions separated by > 1s; the first closes
    // as soon as the second's first event arrives in a later batch.
    input.addData(
      StreamTail.SessionEvent(1, 1000, 1.0),
      StreamTail.SessionEvent(1, 1500, 2.0))
    q.processAllAvailable()
    input.addData(StreamTail.SessionEvent(1, 10000, 5.0))
    q.processAllAvailable()
    val closed = spark.sql("SELECT * FROM sess_t").as[StreamTail.SessionOut].collect()
    assert(closed.toSeq == Seq(StreamTail.SessionOut(1, 1000, 1500, 2, 3.0)))
    q.stop()
  }

  test("Bloom probe composes into a streaming ingest filter (zero-state decontamination)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // benchmark set built BATCH-side, probed IN-STREAM: mightContain is
    // a plan-literal projection, so the streaming filter carries no
    // state and the exact semantics come from the no-false-negative
    // guarantee — a flagged doc is verified downstream, a clean doc
    // passes without ever joining anything
    implicit val sqlCtx = spark.sqlContext
    val bench = (0 until 50).map(i => s"benchmark item number $i").toDF("k")
    val bf = graft.operators.Bloom.build(bench, col("k"), 1 << 14, 7)
    val input = MemoryStream[(Long, String)]
    val cleaned = input.toDS().toDF("doc_id", "text")
      .filter(!graft.operators.Bloom.mightContain(bf, col("text")))
    val q = cleaned.writeStream
      .format("memory").queryName("bloom_t").outputMode("append").start()
    try {
      input.addData((1L, "benchmark item number 7"), (2L, "ordinary doc one"))
      q.processAllAvailable()
      input.addData((3L, "benchmark item number 49"), (4L, "ordinary doc two"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM bloom_t").collect()
        .map(_.getLong(0)).toSet
      // no false negatives: every leaked benchmark doc is gone
      assert(!kept.contains(1L) && !kept.contains(3L))
      assert(kept.contains(2L) && kept.contains(4L))
    } finally q.stop()
  }
}
