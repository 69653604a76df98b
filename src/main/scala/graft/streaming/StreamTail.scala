package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streamlog.{Offset, StreamLog}

/** Streaming tail over a stream log — the reference's long-poll
  * consumer loop (stream_manager.ts:306-326, 454-467) re-expressed as
  * Structured Streaming: [[records]] reads the log through the DSv2
  * micro-batch source (`readStream.format("streamlog")`), whose cursor
  * is the record offset; each trigger plans the segments committed past
  * that cursor from the metadata log, so a `writeStream` over it
  * delivers exactly the long-poll semantics (deliver-on-flush, no
  * busy-wait) with checkpointed exactly-once state on top — which the
  * reference cannot do.
  *
  * The source's `maxRecordsPerTrigger` / `maxBytesPerTrigger` options
  * bound per-batch work (planned from segment metadata) and watermarks
  * bound state.
  */
object StreamTail {

  /** Unbounded (offset STRING, data STRING) stream of records appended to
    * the log — each record is delivered exactly once, in offset order
    * within a batch. Backed by the DSv2 micro-batch source, whose cursor
    * is the record offset itself: unlike a file-glob source (which keys
    * on paths), compaction rewriting old records into a new segment file
    * does NOT re-deliver them.
    */
  def records(spark: SparkSession, log: StreamLog): DataFrame =
    spark.readStream.format("streamlog")
      .option("path", log.root)
      .option("stream", log.name)
      .load()

  /** Event-time view of a records stream whose JSON payloads carry
    * `ts` (epoch millis), `user_id` and `value` fields.
    */
  def events(records: DataFrame): DataFrame =
    records.select(
      col("offset"),
      get_json_object(col("data"), "$.ts").cast("long").as("e_ms"),
      get_json_object(col("data"), "$.user_id").cast("long").as("user_id"),
      get_json_object(col("data"), "$.value").cast("double").as("value"))
      .withColumn("ts", timestamp_millis(col("e_ms")))

  /** Tumbling-window count/sum with a watermark — the streaming twin of
    * EventOps.q23Tumbling. The watermark bounds window state: late data
    * beyond `watermark` is dropped, windows finalize and evict.
    */
  def windowedAgg(events: DataFrame,
                  windowLen: String = "1 minute",
                  watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(unix_millis(col("w.start")).as("window_ms"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the twin of Dedup.q30DedupExact: keep the
    * first record whose payload hash was not seen inside the watermark
    * horizon. `dropDuplicatesWithinWatermark` bounds the dedup state the
    * way q30's groupBy is bounded by the batch: entries evict once the
    * watermark passes them, so an unbounded stream holds O(events within
    * horizon) state, not O(all history). The hash key is 32 bytes per
    * entry regardless of payload size — the same scale argument as q30.
    */
  def dedupExact(records: DataFrame, watermark: String = "2 minutes"): DataFrame =
    records
      .withColumn("ts",
        timestamp_millis(get_json_object(col("data"), "$.ts").cast("long")))
      .withColumn("content_hash", md5(col("data")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming interval join — the twin of EventOps.q29RangeJoin: pair
    * each left event with right events for the same user whose timestamp
    * falls in [left.ts − band, left.ts]. Both sides are watermarked and
    * the join condition carries the event-time band, so Spark derives a
    * state-retention bound for each side (no unbounded buffering —
    * exactly the constraint a 100 TB stream-stream join needs).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   band: String = "1 minute",
                   watermark: String = "2 minutes"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
      col("value").as("l_value")).withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("value").as("r_value")).withWatermark("r_ts", watermark)
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $band") &&
        col("r_ts") <= col("l_ts"))
  }

  /** Stream-static enrichment — the event tail joined with a STATIC
    * dimension frame (user metadata, source registry, allow/deny lists)
    * on `key`. Spark re-plans the static side each micro-batch, so the
    * dim may be a table that changes between batches (each batch sees
    * its current snapshot). With `broadcastDim` (the default, for the
    * usual small-dim case) the stream side never shuffles — events stay
    * in their source partitioning and the join is map-side, which is
    * the only shape that holds when the stream is 100 TB/day and the
    * dim is megabytes; set it false for a dim too large to broadcast
    * (falls back to a shuffle join, both sides keyed). Left join: an
    * event with no dim row passes through with nulls rather than being
    * silently dropped. No state, no watermark — the static side is
    * complete by definition, so nothing buffers.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String = "user_id",
             broadcastDim: Boolean = true): DataFrame =
    events.join(if (broadcastDim) broadcast(dim) else dim, Seq(key), "left")

  /** Append one (micro-)batch of payloads to the log through the DSv2
    * bulk-write path — the produce direction of the tail: offsets are
    * assigned as (next epoch, dense row index over `orderBy`), then the
    * bulk writer range-partitions by offset, each task writes one
    * segment, and the locked commit validates non-overlap against the
    * live metadata. The driver never materializes records; the only
    * narrow point is the row_number window that assigns the dense
    * index (a micro-batch is bounded — for an UNBOUNDED batch ingest
    * use EventOps.withOffsets' per-epoch countering instead).
    *
    * `payloads` needs one `data` STRING column; `orderBy` defines the
    * record order inside the batch (and must be deterministic for
    * replay idempotence to even be possible upstream).
    */
  def appendBatch(log: StreamLog, payloads: DataFrame, orderBy: Seq[String],
                  nowMs: () => Long = () => System.currentTimeMillis()): Unit = {
    import org.apache.spark.sql.expressions.Window
    log.refresh() // external commits move the epoch floor
    val lastEpoch = log.lastOffset.map(Offset.parse(_)._1).getOrElse(0L)
    val epoch = math.max(nowMs(), lastEpoch + 1)
    val idx = row_number().over(
      Window.orderBy(orderBy.map(col): _*)).cast("long") - lit(1L)
    payloads
      .select(Offset.serializeCol(lit(epoch), idx).as("offset"), col("data"))
      .write.format("streamlog")
      .option("path", log.root)
      .option("stream", log.name)
      .mode("append")
      .save()
    log.refresh()
  }

  /** Continuous produce INTO the log: foreachBatch + [[appendBatch]] —
    * the write-side twin of [[records]], with CALLER-CHOSEN record order
    * (`orderBy` decides offset order inside each batch — use when the
    * stream's semantic order differs from arrival order). Each
    * micro-batch lands as one locked bulk commit; on crash-recovery
    * Spark may REPLAY the last uncommitted batch, so delivery into the
    * log is at-least-once (exactly the reference's produce semantics — a
    * retried HTTP produce also duplicates; run the log's exact-dedup
    * downstream if the pipeline needs effectively-once). When arrival
    * order is fine, prefer the NATIVE sink — `df.select(col("data"))
    * .writeStream.format("streamlog")` — which assigns partition-
    * disjoint offsets with exactly-once epoch commits and writer
    * fencing (StreamLogStreamingWrite), no foreachBatch. */
  def sinkTo(source: DataFrame, log: StreamLog, checkpointDir: String,
             orderBy: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendBatch(log, batch, orderBy)
      }
      .start()

  /** One streaming near-dup band probe: `owner` is the doc that first
    * claimed this band bucket (owner == doc_id ⇔ this doc claimed it). */
  final case class BandHit(doc_id: Long, band: Int, owner: Long)

  /** Streaming near-duplicate candidate detection — the CONTINUOUS twin
    * of [[graft.operators.Dedup.incrementalNearDup]]: each arriving
    * (doc_id, text) row derives its MinHash band keys IN-ROW (the exact
    * [[graft.operators.Dedup.minhashNearDup]] index — same shingles,
    * seeds, banding), and a `flatMapGroupsWithState` keyed by (band,
    * band_key) remembers each bucket's FIRST owner: every probe emits a
    * [[BandHit]] whose `owner` is that first doc, so a doc sharing any
    * bucket with an earlier doc is an LSH candidate against it — the
    * admission signal a continuous ingest gate needs, without
    * re-scanning the corpus per batch. Exact-Jaccard verification of
    * flagged pairs stays a batch job over the flagged ids (same split
    * as the rateAnomaliesFromCounts deployment seam: cheap signal
    * in-stream, exact math offline).
    *
    * Determinism: within a micro-batch, bucket claimants process in
    * doc_id order, so the owner is a pure function of (batch contents,
    * state) — re-running a batch re-derives identical hits (checkpoint
    * replay safe). State per bucket is ONE long regardless of how many
    * docs hit it — the dedup index compresses to first-owner, the
    * smallest state any near-dup memory can carry; `ttlMs > 0` adds a
    * processing-time horizon after which an idle bucket forgets its
    * owner (the [[dedupExact]] watermark-bounding story for state that
    * would otherwise grow with the distinct-bucket count). Docs shorter
    * than `n` tokens emit no band rows (no n-gram evidence — same as
    * the batch index). Per-doc verdicts roll up per micro-batch via
    * [[nearDupVerdict]] in the sink.
    */
  def nearDupCandidates(docs: DataFrame, n: Int = 3, seeds: Int = 16,
                        bands: Int = 4, ttlMs: Long = 0L): Dataset[BandHit] = {
    require(seeds % bands == 0, s"$seeds signatures must band evenly into $bands")
    require(ttlMs >= 0L, s"ttlMs must be >= 0, got $ttlMs")
    import docs.sparkSession.implicits._
    val idx = graft.operators.Dedup
      .bandIndex(docs, n, seeds, bands, persistSigs = false)
      .select(col("doc_id").cast("long"), col("band").cast("int"), col("band_key"))
      .as[(Long, Int, String)]
    val timeoutConf =
      if (ttlMs > 0L) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    idx.groupByKey { case (_, band, key) => s"$band|$key" }
      .flatMapGroupsWithState[Long, BandHit](OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_._1)
            var owner = state.getOption
            val out = sorted.map { case (id, band, _) =>
              owner match {
                case None =>
                  owner = Some(id)
                  BandHit(id, band, id)
                case Some(o) =>
                  BandHit(id, band, o)
              }
            }
            owner.foreach { o =>
              state.update(o)
              if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            }
            out.iterator
          }
      }
  }

  /** Per-doc rollup of a micro-batch's [[BandHit]]s (run it in the
    * sink — foreachBatch or over the memory table): (doc_id, n_bands,
    * dup_candidate, dup_of) where dup_of is the smallest earlier owner
    * any band matched (null for novel docs). A doc owning every one of
    * its buckets is novel; any foreign owner makes it an LSH candidate
    * pair to verify.
    */
  def nearDupVerdict(hits: DataFrame): DataFrame =
    hits.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bands"),
      max(col("owner") =!= col("doc_id")).as("dup_candidate"),
      min(when(col("owner") =!= col("doc_id"), col("owner"))).as("dup_of"))

  final case class SessionEvent(user_id: Long, e_ms: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, sum_value: Double)

  /** Stateful gap-based sessionization — the streaming twin of
    * EventOps.q24Sessionize via flatMapGroupsWithState: one O(1) state
    * record per live user session — the shape that survives unbounded
    * streams. A session closes (and is emitted) when a later event
    * arrives more than `gapMs` past its end; with
    * `withProcessingTimeout` the engine additionally closes idle
    * sessions after `gapMs` of wall-clock silence (production tails;
    * deterministic tests keep it off — wall-clock timeouts make
    * `processAllAvailable` unbounded).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 1800000L,
                 withProcessingTimeout: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (withProcessingTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeoutConf) {
        case (userId, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start, s.last, s.n, s.sum))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.e_ms))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.e_ms - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, e.e_ms, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(e.e_ms, e.e_ms, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.e_ms, e.e_ms, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (withProcessingTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  final case class ReservoirAdmit(group: String, doc_id: String, race: Double)

  /** Streaming weighted reservoir — the CONTINUOUS twin of
    * [[graft.operators.Sampling.weightedSample]] (Efraimidis–Spirakis
    * A-ES over an unbounded stream): each arriving row draws the same
    * deterministic exponential-race key ln(u)/w (hash-derived u — an
    * epoch replay re-draws identical keys, so checkpoint recovery is
    * value-safe), and a per-`group` state holds the CURRENT top-`k` —
    * bounded at k (race, id) pairs per group forever, the only reservoir
    * shape that survives an unbounded stream.
    *
    * Output is the ADMISSIONS JOURNAL, not the evolving sample: a row
    * emits exactly when it enters its group's reservoir (append-mode
    * honest — nothing retracts). That journal is sufficient: a row in
    * the FINAL top-k was in the top-k of every prefix ending at its
    * arrival (race keys never change), so it was necessarily admitted —
    * the final sample is exactly the top-k by race of the admitted
    * rows, a bounded batch rollup in the sink ([[reservoirSample]]; the
    * rateAnomaliesFromCounts deployment seam again: cheap in-stream
    * signal, exact selection offline). Expected journal size is
    * O(k·log n) per group, the classic reservoir-admission bound.
    *
    * Rows with null/non-positive/NaN weight are DROPPED in-stream
    * (their race key would beat every valid key — NaN sorts above all —
    * and poison the sample; the batch twin refuses the whole call, a
    * streaming gate cannot — route weight hygiene upstream). Admission
    * within a batch is computed against the batch's merged set, so it
    * is independent of row order inside the batch; a re-arriving
    * doc_id keeps its BEST race key (state is unique per id), so
    * duplicate deliveries never hold two slots.
    */
  def weightedReservoir(docs: DataFrame, weight: Column, k: Int,
                        group: Column = lit("all"),
                        key: Column = col("doc_id"),
                        salt: Long = 0L): Dataset[ReservoirAdmit] = {
    require(k > 0 && k <= 100000,
      s"need 0 < k <= 100000 (k entries per group live in executor state), got $k")
    import docs.sparkSession.implicits._
    val w = weight.cast("double")
    val rows = docs
      .select(group.cast("string").as("g"), key.cast("string").as("id"),
        graft.operators.Sampling.raceKey(key, w, salt).as("race"), w.as("w"))
      .filter(col("w").isNotNull && !isnan(col("w")) && col("w") > 0.0)
      .select(col("g"), col("id"), col("race")).as[(String, String, Double)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Double, String)], ReservoirAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (g, it, state: GroupState[Vector[(Double, String)]]) =>
          val cur = state.getOption.getOrElse(Vector.empty)
          val merged = (cur ++ it.map(t => (t._3, t._2)))
            .groupBy(_._2).valuesIterator.map(_.maxBy(_._1)).toVector
          val top = merged.sortBy { case (r, id) => (-r, id) }.take(k)
          state.update(top)
          val held = cur.toSet
          top.filterNot(held.contains)
            .map { case (r, id) => ReservoirAdmit(g, id, r) }.iterator
      }
  }

  /** The sink-side rollup of a [[weightedReservoir]] admissions journal:
    * the current sample = top-k by race per group (bounded — the journal
    * is O(k·log n) rows). The journal is at-least-once against
    * non-transactional sinks (a restart between sink write and
    * checkpoint commit replays a batch) and a doc may be re-admitted at
    * a better race after a duplicate delivery — so the rollup first
    * keeps the best row per (group, doc_id), then ranks: duplicates
    * never hold two of the k slots. Equals the batch twin on the same
    * data.
    */
  def reservoirSample(admits: DataFrame, k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    admits
      .withColumn("_rs_dup", row_number().over(
        W.partitionBy(col("group"), col("doc_id"))
          .orderBy(col("race").desc)))
      .filter(col("_rs_dup") === 1)
      .withColumn("_rs_rank", row_number().over(
        W.partitionBy(col("group"))
          .orderBy(col("race").desc, col("doc_id"))))
      .filter(col("_rs_rank") <= k)
      .drop("_rs_dup", "_rs_rank")
      .orderBy(col("group"), col("race").desc, col("doc_id"))
  }
}
