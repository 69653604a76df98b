package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.streamlog.{Offset, SegmentCommit, StreamLog}

/** DataSource V2 connector: `format("streamlog")` reads, offset-filter
  * pushdown prunes segments at planning time, order/content parity with
  * the driver-side consume path.
  */
class StreamLogSourceSpec extends SparkSpec {

  private def freshLog(): StreamLog = {
    val root = Files.createTempDirectory("graft-dsv2").toString
    new StreamLog(spark, root, "s")
  }

  /** Segments the DSv2 scan under `df` planned, over all its partitions. */
  private def plannedSegments(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.get.flatMap(_.asInstanceOf[StreamLogPartition].reads).size

  private var t = 7000000L
  private def clock: () => Long = () => { t += 1000; t }

  test("format(streamlog) reads all records in offset order per segment") {
    val log = freshLog()
    val c = clock
    val all = (1 to 4).flatMap(b => log.publish((1 to 5).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    val df = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()
    val rows = df.orderBy("offset").collect()
    assert(rows.map(_.getString(0)).toSeq == all)
    assert(rows.length == 20)
    log.destroy()
  }

  test("offset > X filter prunes segments at planning time") {
    val log = freshLog()
    val c = clock
    val offs = (1 to 4).flatMap(_ => log.publish(Seq("""{"x":1}"""), nowMs = c))
    val df = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()

    val afterSecond = df.filter(col("offset") > offs(1))
    // planned segments == surviving segments
    assert(plannedSegments(afterSecond) == 2)
    assert(afterSecond.collect().map(_.getString(0)).sorted.toSeq == offs.drop(2))

    // >= keeps the boundary record (loose pruning + exact Spark filter)
    val geSecond = df.filter(col("offset") >= offs(1)).collect().map(_.getString(0))
    assert(geSecond.sorted.toSeq == offs.drop(1))
    log.destroy()
  }

  test("limit and top-n push down: metadata record counts prune segments") {
    val log = freshLog()
    val c = clock
    // 10 segments x 5 records
    val all = (1 to 10).flatMap(_ => log.publish((1 to 5).map(i => s"""{"i":$i}"""), nowMs = c))
    def df = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()

    // ORDER BY offset LIMIT 12: the 12 smallest offsets live in the first
    // 3 segments (5+5+5 >= 12) — the scan must plan exactly 3 segments
    val topn = df.orderBy("offset").limit(12)
    assert(topn.collect().map(_.getString(0)).toSeq == all.take(12))
    assert(plannedSegments(topn) == 3,
      s"expected 3 segments planned, got ${plannedSegments(topn)}")

    // bare LIMIT (no order): any 7 rows qualify -> 2 segments suffice
    val lim = df.limit(7)
    assert(lim.collect().length == 7)
    assert(plannedSegments(lim) == 2)

    // with an offset bound, the first intersecting segment is partial and
    // must not count toward the guarantee: limit 5 after the first record
    // needs segments until 5 FULLY-qualifying records accumulate (seg 1
    // partial + seg 2's five) = 2 segments
    val bounded = df.filter(col("offset") > all.head).orderBy("offset").limit(5)
    assert(bounded.collect().map(_.getString(0)).toSeq == all.slice(1, 6))
    log.destroy()
  }

  test("count(*) is answered from segment metadata without opening files") {
    val log = freshLog()
    val c = clock
    (1 to 6).foreach(_ => log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    def df = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()
    val counted = df.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)))
    assert(counted.head().getLong(0) == 24)
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("StreamLogCountScan"),
      s"count(*) must plan the metadata-only scan:\n$plan")
    // a bounded count cannot use metadata (partial first segment) — it
    // must fall back to the record scan and still be exact
    val someOffset = log.consume(Offset.Beginning, 5).last._1
    val bounded = df.filter(col("offset") > someOffset)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    assert(bounded.head().getLong(0) == 19)
    assert(!bounded.queryExecution.executedPlan.toString.contains("StreamLogCountScan"))
    log.destroy()
  }

  test("min/max(offset) and mixed aggregates are answered from segment metadata") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val log = freshLog()
    val c = clock
    val offs = (1 to 6).flatMap(_ =>
      log.publish((1 to 4).map(i => s"""{"i":$i}"""), nowMs = c))
    def df = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()
    // the consume-lag shape: count + both extrema in ONE metadata row
    val stats = df.agg(count(lit(1)), min(col("offset")), max(col("offset")))
    val row = stats.head()
    assert(row.getLong(0) == 24)
    assert(row.getString(1) == offs.head)
    assert(row.getString(2) == offs.last)
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("StreamLogCountScan"),
      s"min/max(offset) must plan the metadata-only scan:\n$plan")
    // still exact after compaction rewrites the index (metadata moves
    // with the merged segment)
    log.compactOnce(nowMs = c)
    val again = df.agg(min(col("offset")), max(col("offset"))).head()
    assert(again.getString(0) == offs.head && again.getString(1) == offs.last)
    // min/max over the record payload cannot come from metadata: fall back
    val other = df.agg(max(col("data")))
    assert(!other.queryExecution.executedPlan.toString.contains("StreamLogCountScan"))
    // an offset bound declines the pushdown (partial first segment)
    val bounded = df.filter(col("offset") > offs.head).agg(min(col("offset")))
    assert(!bounded.queryExecution.executedPlan.toString.contains("StreamLogCountScan"))
    assert(bounded.head().getString(0) == offs(1))
    log.destroy()

    // empty stream: COUNT = 0, MIN/MAX = NULL, exactly like a real scan
    val empty = freshLog()
    def edf = spark.read.format("streamlog")
      .option("path", empty.streamDir.getParent.toString)
      .option("stream", empty.name).load()
    val erow = edf.agg(count(lit(1)), min(col("offset")), max(col("offset"))).head()
    assert(erow.getLong(0) == 0L && erow.isNullAt(1) && erow.isNullAt(2))
    empty.destroy()
  }

  test("connector agrees with StreamLog.consume after compaction") {
    val log = freshLog()
    val c = clock
    (1 to 5).foreach(b => log.publish((1 to 6).map(i => s"""{"b":$b,"i":$i}"""), nowMs = c))
    log.compactOnce(nowMs = c)
    val viaConsume = log.consume(Offset.Beginning, 1000).map(_._1)
    val viaSource = spark.read.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()
      .orderBy("offset").collect().map(_.getString(0)).toSeq
    assert(viaSource == viaConsume)
    log.destroy()
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("bulk write: range-partitioned sorted segments, readable + appendable") {
    import graft.operators.EventOps
    val log = freshLog()
    val root = log.streamDir.getParent.toString

    // distributed ingest: events -> offsets -> streamlog (Spark enforces
    // range distribution + per-partition offset order for the writer)
    val src = EventOps.withOffsets(graft.core.Tables(spark, "/root/testdata/sf0.001", "events"))
      .select(org.apache.spark.sql.functions.col("offset"),
        org.apache.spark.sql.functions.col("props").as("data"))
    src.write.format("streamlog")
      .option("path", root).option("stream", log.name).mode("append").save()

    val back = spark.read.format("streamlog")
      .option("path", root).option("stream", log.name).load()
    assert(back.count() == src.count())
    // a fresh StreamLog instance replays the committed metadata
    val log2 = new graft.streamlog.StreamLog(spark, root, log.name)
    assert(log2.segments.nonEmpty)
    assert(log2.segments.map(_.records).sum == src.count())
    // non-overlap invariant across committed segments
    val segs = log2.segments
    segs.sliding(2).foreach {
      case Seq(a, b) => assert(a.lastOffset < b.firstOffset)
      case _ =>
    }
    // publishing after a bulk load continues the stream
    val more = log2.publish(Seq("""{"tail":1}"""))
    assert(more.head > segs.last.lastOffset)
    log2.destroy()
  }

  test("streaming sink: assigns monotone offsets across micro-batches; restart from checkpoint adds no duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val log = freshLog()
    val root = log.streamDir.getParent.toString
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString

    val mem = MemoryStream[String](spark)
    def start() = mem.toDF().select($"value".as("data"))
      .writeStream.format("streamlog")
      .option("path", root).option("stream", log.name)
      .option("checkpointLocation", ckpt)
      .start()

    val q = start()
    try {
      mem.addData((1 to 5).map(i => s"""{"a":$i}"""): _*)
      q.processAllAvailable()
      mem.addData((6 to 9).map(i => s"""{"a":$i}"""): _*)
      q.processAllAvailable()
    } finally q.stop()

    // forced stop + restart with the SAME checkpoint: already-committed
    // epochs must not re-land
    val q2 = start()
    try {
      mem.addData("""{"a":10}""")
      q2.processAllAvailable()
    } finally q2.stop()

    log.refresh()
    val got = log.consume(Offset.Beginning, 1000)
    assert(got.map(_._2).sorted == (1 to 10).map(i => s"""{"a":$i}""").sorted,
      s"expected 10 unique records, got ${got.size}")
    // offsets strictly monotone, epochs advance across micro-batches
    assert(got.map(_._1) == got.map(_._1).sorted && got.map(_._1).distinct.size == 10)
    assert(got.map(o => Offset.parse(o._1)._1).distinct.size >= 2,
      "micro-batches should land in distinct offset epochs")
    // publish() continues above the sink's offsets
    assert(log.publish(Seq("""{"tail":1}""")).head > got.last._1)
    log.destroy()
  }

  test("streaming sink commit is idempotent per epoch and fenced") {
    import spark.implicits._
    val log = freshLog()
    val root = log.streamDir.getParent.toString

    // replayed epoch: same epochId committed twice registers once
    val w = new StreamLogStreamingWrite(root, log.name, writerEpoch = 0L, queryId = "q-test")
    Files.createDirectories(log.segmentDir)
    def seg(first: Long, n: Int): SegmentCommit = {
      val offs = (0 until n).map(i => Offset.serialize(first, i.toLong))
      val name = s"${offs.head}-${java.util.UUID.randomUUID()}.seg"
      Files.write(log.segmentDir.resolve(name),
        offs.map(o => s"""$o{"x":1}""").mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      SegmentCommit(name, offs.head, offs.last, n.toLong, n * 40L)
    }
    w.commit(0L, Array(seg(9000000, 3)))
    w.commit(0L, Array(seg(9000001, 3))) // replay of epoch 0: must be a no-op
    log.refresh()
    assert(log.segments.map(_.records).sum == 3, "replayed epoch re-committed")
    w.commit(1L, Array(seg(9000002, 2))) // next epoch lands
    log.refresh()
    assert(log.segments.map(_.records).sum == 5)

    // fencing: a newer writer claim refuses the streaming commit
    new graft.streamlog.StreamLog(spark, root, log.name).claimWriter()
    intercept[graft.streamlog.WriterFencedException] {
      w.commit(2L, Array(seg(9000003, 1)))
    }
    // and a live token passes
    val live = new graft.streamlog.StreamLog(spark, root, log.name)
    val e = live.claimWriter()
    val w2 = new StreamLogStreamingWrite(root, log.name, writerEpoch = e, queryId = "q-test2")
    w2.commit(0L, Array(seg(9000004, 1)))
    log.refresh()
    assert(log.segments.map(_.records).sum == 6)
    log.destroy()
  }

  test("bulk write refuses overlap with the existing log") {
    val log = freshLog()
    val root = log.streamDir.getParent.toString
    import spark.implicits._
    val mk = (o: Long) => graft.streamlog.Offset.serialize(o, 0)
    Seq((mk(2000), "a")).toDF("offset", "data").write.format("streamlog")
      .option("path", root).option("stream", log.name).mode("append").save()
    intercept[Exception] {
      Seq((mk(1000), "b")).toDF("offset", "data").write.format("streamlog")
        .option("path", root).option("stream", log.name).mode("append").save()
    }
    log.destroy()
  }

  test("micro-batch stream delivers incrementally with a durable cursor") {
    import org.apache.spark.sql.streaming.Trigger
    val log = freshLog()
    val c = clock
    val first = log.publish(Seq("""{"x":1}""", """{"x":2}"""), nowMs = c)
    val stream = spark.readStream.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name).load()
    val q = stream.writeStream.format("memory").queryName("mb_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM mb_t").head().getLong(0) == 2)

    // records published after the first pass arrive in the next batch only
    val second = log.publish(Seq("""{"x":3}"""), nowMs = c)
    val q2 = stream.writeStream.format("memory").queryName("mb_t2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val offs = spark.sql("SELECT offset FROM mb_t2 ORDER BY offset")
      .collect().map(_.getString(0)).toSeq
    assert(offs == (first ++ second))
    log.destroy()
  }

  test("maxRecordsPerTrigger paces catch-up into bounded micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val log = freshLog()
    val c = clock
    val all = (1 to 6).flatMap(_ =>
      log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c))
    val stream = spark.readStream.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name)
      .option("maxRecordsPerTrigger", "5")
      .load()
    val q = stream.writeStream.format("memory").queryName("mb_paced")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // exactly-once delivery of everything, in offset order
    val offs = spark.sql("SELECT offset FROM mb_paced ORDER BY offset")
      .collect().map(_.getString(0)).toSeq
    assert(offs == all)
    // cap is enforced at segment granularity: 5 requested over 3-record
    // segments -> 2 segments (6 records) per batch, never one giant
    // replay batch; 18 records need >= 3 batches
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 3, s"expected paced batches, got ${batches.toSeq}")
    assert(batches.forall(_ <= 6), s"batch overran the cap+1-segment bound: ${batches.toSeq}")
    log.destroy()
  }

  test("compaction concurrent with a paced streaming read stays exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val log = freshLog()
    val c = clock
    val all = (1 to 8).flatMap(_ =>
      log.publish((1 to 3).map(i => s"""{"i":$i}"""), nowMs = c))
    val stream = spark.readStream.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name)
      .option("maxRecordsPerTrigger", "4") // many small batches
      .load()
    val q = stream.writeStream.format("memory").queryName("mb_maint")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // compact the whole backlog WHILE the paced query drains it: the
    // offset-keyed cursor makes rewritten segments invisible to the
    // reader, and tombstone retention (default 1 day) keeps the original
    // files readable for in-flight batches planned before the rewrite
    log.maintain(orphanGraceMs = Long.MaxValue, nowMs = c)
    q.awaitTermination(60000)
    val offs = spark.sql("SELECT offset FROM mb_maint ORDER BY offset")
      .collect().map(_.getString(0)).toSeq
    assert(offs == all, "records lost or duplicated across a concurrent compaction")
    assert(log.segments.length < 8, "compaction must actually have run")
    log.destroy()
  }

  test("maxBytesPerTrigger paces by segment byte totals") {
    import org.apache.spark.sql.streaming.Trigger
    val log = freshLog()
    val c = clock
    // 6 segments of 3 records; each record ~33+10 B -> a segment ~130 B
    val all = (1 to 6).flatMap(_ =>
      log.publish((1 to 3).map(i => s"""{"pad":$i}"""), nowMs = c))
    val stream = spark.readStream.format("streamlog")
      .option("path", log.streamDir.getParent.toString)
      .option("stream", log.name)
      .option("maxBytesPerTrigger", "200") // < 2 segments' bytes
      .load()
    val q = stream.writeStream.format("memory").queryName("mb_bytes")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT offset FROM mb_bytes ORDER BY offset")
      .collect().map(_.getString(0)).toSeq == all)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    // 200 B trips inside the second segment of each batch -> 6 records
    // max per batch, so 18 records need at least 3 batches
    assert(batches.length >= 3, s"expected byte-paced batches, got ${batches.toSeq}")
    assert(batches.forall(_ <= 6), s"batch overran the byte cap: ${batches.toSeq}")
    log.destroy()
  }
}
