package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.streamlog.{AuthSnapshot, MetaCommits, MetaLog, Offset, S3Auth, SegmentIntegrity, SegmentMeta, SegmentTasks, StreamStores}

/** DataSource V2 batch connector for the stream-log:
  *
  * {{{
  *   spark.read.format("streamlog")
  *     .option("path", root).option("stream", name)
  *     [.option("after", offset)]       // exclusive start
  *     .load()                          // schema: offset STRING, data STRING
  * }}}
  *
  * `offset > X` / `offset >= X` filters (and the `after` option) push
  * into the scan and prune whole segments via the metadata index BEFORE
  * any file is opened — the object-store analog of partition pruning
  * (SURVEY.md §3): a consume-from-tail on a 100 TB stream plans only the
  * segments whose [first,last] range can intersect. One input partition
  * per segment preserves intra-segment order and parallelizes across
  * segments. On POSIX and `hadoop:` roots the session's Hadoop conf
  * reaches the tasks as one broadcast per scan (per query for
  * `readStream`), not inside every task ([[StreamLogReaderFactory]]).
  *
  * `spark.readStream.format("streamlog")` tails the log in micro-batches
  * ([[StreamLogMicroBatch]]); a trigger reads the metadata log once:
  * the replay behind `latestOffset` also answers `reportLatestOffset`
  * and plans the batch.
  */
class StreamLogSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "streamlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StreamLogTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new StreamLogTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("streamlog: 'path' option is required")),
      Option(properties.get("stream")).getOrElse(
        throw new IllegalArgumentException("streamlog: 'stream' option is required")),
      Option(properties.get("after")),
      Option(properties.get("maxRecordsPerTrigger")).map { v =>
        val n = v.toLong
        require(n > 0, s"maxRecordsPerTrigger must be positive, got $n")
        n
      },
      Option(properties.get("maxBytesPerTrigger")).map { v =>
        val n = v.toLong
        require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
        n
      })
}

object StreamLogTable {
  val Schema: StructType = StructType(Seq(
    StructField("offset", StringType, nullable = false),
    StructField("data", StringType, nullable = false)))
}

class StreamLogTable(root: String, stream: String, after: Option[String],
                     maxRecordsPerTrigger: Option[Long] = None,
                     maxBytesPerTrigger: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"streamlog:$root/$stream"
  override def schema(): StructType = StreamLogTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StreamLogScanBuilder(root, stream, after, maxRecordsPerTrigger, maxBytesPerTrigger)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val fields = info.schema().fieldNames.toSeq
    // batch bulk load brings its own offsets (offset, data); the
    // STREAMING sink takes bare payloads (data) and assigns offsets
    // itself — the reference's publish-at-flush semantics
    require(fields == Seq("offset", "data") || fields == Seq("data"),
      s"streamlog writes require (offset STRING, data STRING) for batch " +
        s"or (data STRING) for streaming, got $fields")
    // optional fencing token from StreamLog.claimWriter(); 0 = unfenced
    // legacy writer, refused once any writer has claimed the stream
    val writerEpoch = Option(info.options.get("writerEpoch")).map(_.toLong).getOrElse(0L)
    new StreamLogWriteBuilder(root, stream, writerEpoch, fields, info.queryId())
  }
}

class StreamLogScanBuilder(root: String, stream: String, after: Option[String],
                           maxRecordsPerTrigger: Option[Long] = None,
                           maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  // exclusive lower bound accumulated from the option + pushed filters
  private var lowerBound: String = after.getOrElse(Offset.Beginning)
  private var pushed: Array[Filter] = Array.empty
  private var limitHint: Option[Int] = None
  private var metaAggs: Option[Seq[MetaAgg]] = None

  /** Ungrouped COUNT(*) / MIN(offset) / MAX(offset) — in any
    * combination — with no offset bound are answered ENTIRELY from
    * segment metadata (the record counts the compaction planner already
    * maintains, plus the sorted non-overlapping index's first segment's
    * firstOffset and last segment's lastOffset — the reference answers
    * the same questions from its meta endpoint): complete pushdown,
    * zero files opened. Any bound, group, or other aggregate declines
    * and scans normally.
    */
  private def metaAggsOf(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Seq[MetaAgg]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isOffset(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("offset"))
        case _                 => false
      }
    if (lowerBound != Offset.Beginning || agg.groupByExpressions().nonEmpty ||
        agg.aggregateExpressions().isEmpty) return None
    val specs = agg.aggregateExpressions().map {
      case _: CountStar                       => MetaAgg.Count
      case m: Min if isOffset(m.column())     => MetaAgg.MinOffset
      case m: Max if isOffset(m.column())     => MetaAgg.MaxOffset
      case _                                  => return None
    }
    Some(specs.toSeq)
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metaAggsOf(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metaAggsOf(agg) match {
      case some @ Some(_) => metaAggs = some; true
      case None           => false
    }

  /** Plain LIMIT: any n rows satisfy it, so reading a metadata-counted
    * prefix of segments is safe. Partial push — Spark still applies the
    * exact limit; we only avoid opening provably-unneeded segments.
    */
  override def pushLimit(l: Int): Boolean = {
    limitHint = Some(l)
    false // partial: the scan prunes, Spark enforces
  }

  /** ORDER BY offset ASC LIMIT n (the consume-with-limit shape):
    * records are globally offset-ordered across the non-overlapping,
    * sorted segments, so the first segments holding ≥ n
    * guaranteed-qualifying records contain the n smallest offsets.
    * Only ascending offset order is prunable; anything else declines.
    */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    val ascOffset = orders.length == 1 && (orders(0).expression() match {
      case ref: org.apache.spark.sql.connector.expressions.NamedReference =>
        ref.fieldNames.sameElements(Array("offset")) &&
          orders(0).direction() == SortDirection.ASCENDING
      case _ => false
    })
    if (ascOffset) limitHint = Some(l)
    ascOffset
  }
  override def isPartiallyPushed(): Boolean = true // Spark keeps the TopN/Limit

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def raise(bound: String): Unit =
      if (lowerBound == Offset.Beginning || bound > lowerBound) lowerBound = bound
    filters.foreach {
      case GreaterThan("offset", v: String) => raise(v)
      // offset >= v: shrink by one lexicographic step so records equal to
      // v survive segment pruning (the index prunes on lastOffset > bound)
      case GreaterThanOrEqual("offset", v: String) => raise(prevBound(v))
      case _ =>
    }
    pushed = filters.filter {
      case GreaterThan("offset", _: String) | GreaterThanOrEqual("offset", _: String) => true
      case _ => false
    }
    // Return ALL filters for Spark to re-evaluate: the bound only PRUNES
    // segments/lines, it does not guarantee exact filter semantics (the
    // >= bound is deliberately loose by one step).
    filters
  }

  /** Largest string strictly below `v` for pruning purposes: trimming the
    * final char keeps every offset == v inside the pruned set.
    */
  private def prevBound(v: String): String =
    if (v.isEmpty) Offset.Beginning else v.substring(0, v.length - 1)

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    metaAggs match {
      case Some(specs) => new StreamLogCountScan(root, stream, specs)
      case None => new StreamLogScan(root, stream, lowerBound, limitHint,
        maxRecordsPerTrigger, maxBytesPerTrigger)
    }
}

/** Which metadata-answerable aggregate a pushed column is. */
sealed trait MetaAgg
object MetaAgg {
  case object Count extends MetaAgg     // Σ segment record counts
  case object MinOffset extends MetaAgg // first segment's firstOffset
  case object MaxOffset extends MetaAgg // last segment's lastOffset
}

/** Metadata-only COUNT(*) / MIN(offset) / MAX(offset): one partition
  * emitting one row computed from the segment index — counts from the
  * per-segment record counts, offset extrema from the sorted
  * non-overlapping index's end segments (first.firstOffset is the
  * smallest record offset, last.lastOffset the largest, both
  * inclusive). No segment file is opened. An empty stream yields 0 for
  * COUNT and SQL NULL for MIN/MAX, matching the aggregate semantics of
  * a real scan.
  */
class StreamLogCountScan(root: String, stream: String,
                         specs: Seq[MetaAgg] = Seq(MetaAgg.Count))
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(specs.zipWithIndex.map {
      case (MetaAgg.Count, i) =>
        StructField(s"agg_$i", org.apache.spark.sql.types.LongType, nullable = false)
      case (_, i) =>
        StructField(s"agg_$i", org.apache.spark.sql.types.StringType, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"StreamLogCountScan($root/$stream, metadata-only ${specs.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val st = StreamStores.replay(root, stream)
    val segs = st.index.segments
    val values: Array[Any] = specs.map {
      case MetaAgg.Count     => segs.map(_.records).sum: Any
      case MetaAgg.MinOffset => segs.headOption.map(_.firstOffset).orNull
      case MetaAgg.MaxOffset => segs.lastOption.map(_.lastOffset).orNull
    }.toArray
    Array(StreamLogCountPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory = StreamLogCountReaderFactory
}

case class StreamLogCountPartition(values: Array[Any]) extends InputPartition

object StreamLogCountReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      private val row = InternalRow.fromSeq(
        p.asInstanceOf[StreamLogCountPartition].values.toSeq.map {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other     => other
        })
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

class StreamLogScan(root: String, stream: String, lowerBound: String,
                    limitHint: Option[Int] = None,
                    maxRecordsPerTrigger: Option[Long] = None,
                    maxBytesPerTrigger: Option[Long] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = StreamLogTable.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"StreamLogScan($root/$stream, after=$lowerBound" +
      limitHint.map(l => s", limit=$l").getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] = {
    val st = StreamStores.replay(root, stream)
    // THE pruning step: only segments whose range can intersect survive
    val segs = st.index.segmentsAfter(lowerBound)
    // limit/top-N pruning on metadata record counts: stop once the
    // GUARANTEED-qualifying records (everything in segments strictly
    // after the first intersecting one — those are entirely > the bound;
    // the first segment counts only when unbounded) reach the limit
    val kept = limitHint match {
      case Some(l) =>
        val out = Seq.newBuilder[SegmentMeta]
        var guaranteed = 0L
        var i = 0
        while (i < segs.length && guaranteed < l) {
          out += segs(i)
          if (i > 0 || lowerBound == Offset.Beginning) guaranteed += segs(i).records
          i += 1
        }
        out.result()
      case None => segs
    }
    StreamLogPartition.plan(root, stream, kept, lowerBound, "")
  }

  private lazy val readerFactory = StreamLogReaderFactory.forRoot(root)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Micro-batch view: the stream's cursor IS the record offset — the
    * exact consumer semantics of the reference's long-poll loop
    * (exclusive-start consume from the committed cursor, stream_manager
    * .ts:295-382), with Spark's checkpointing providing the durable
    * consumer-group state the reference leaves to its callers.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new StreamLogMicroBatch(root, stream, lowerBound, maxRecordsPerTrigger, maxBytesPerTrigger)
}

/** Streaming cursor: the last-delivered 32-char offset ("-" = nothing). */
case class StreamLogOffset(last: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"last":"$last"}"""
}

/** @param maxRecordsPerTrigger admission control: cap each micro-batch
  *   at ~this many records, enforced at SEGMENT granularity from the
  *   metadata record counts (no file is opened to plan a batch) — the
  *   segment-based analog of the file source's maxFilesPerTrigger. A
  *   batch takes whole segments until the cap is met, so it can overrun
  *   by at most one segment; `Trigger.AvailableNow` catch-up composes
  *   with it (many bounded batches instead of one unbounded replay —
  *   at 100 TB an uncapped cold-start batch is a single giant job that
  *   holds the checkpoint hostage until it finishes).
  * @param maxBytesPerTrigger same pacing by segment BYTE totals (also
  *   metadata-planned) — the right cap when record sizes vary; both
  *   caps together compose as a CompositeReadLimit (first to trip ends
  *   the batch).
  */
class StreamLogMicroBatch(root: String, stream: String, startAfter: String,
                          maxRecordsPerTrigger: Option[Long] = None,
                          maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => SOffset, ReadLimit, ReadMaxBytes, ReadMaxRows}

  // Trigger.AvailableNow contract: the horizon is FROZEN at query start
  // (prepareForTriggerAvailableNow), then the engine drains up to it in
  // read-limit-bounded batches and stops — records published while
  // draining wait for the next run.
  @volatile private var availableNowHorizon: Option[String] = None

  // What the last latestOffset(start, limit) replayed. Spark calls
  // reportLatestOffset() right after it and, for a batch with data,
  // planInputPartitions: both answer from this state, so a trigger
  // reads the metadata log once, not three times. A plan past it (the
  // first batch after a restart) replays. A maintain() landing in
  // between is harmless: the segments it merged stay readable until
  // tombstone cleanup (a day by default), and the (after, until] cut
  // keeps delivery exactly-once.
  @volatile private var replayed: Option[MetaLog.State] = None

  override def initialOffset(): SOffset = StreamLogOffset(startAfter)

  private def live(st: MetaLog.State): String =
    if (st.lastOffset.isEmpty) Offset.Beginning else st.lastOffset

  override def latestOffset(): SOffset =
    StreamLogOffset(live(StreamStores.replay(root, stream)))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHorizon = Some(latestOffset().asInstanceOf[StreamLogOffset].last)

  override def getDefaultReadLimit: ReadLimit =
    (maxRecordsPerTrigger.map(n => ReadLimit.maxRows(n)) ++
      maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n))).toSeq match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }

  /** (maxRows, maxBytes) a ReadLimit implies; Long.MaxValue = unbounded. */
  private def limitsOf(limit: ReadLimit): (Long, Long) = limit match {
    case r: ReadMaxRows => (r.maxRows(), Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.map(limitsOf)
        .reduce((a, b) => (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _ => (Long.MaxValue, Long.MaxValue)
  }

  override def reportLatestOffset(): SOffset =
    replayed.fold(latestOffset())(st => StreamLogOffset(live(st)))

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val after = start.asInstanceOf[StreamLogOffset].last
    val st = StreamStores.replay(root, stream)
    replayed = Some(st)
    val horizon = availableNowHorizon.filter(_ < live(st)).getOrElse(live(st))
    val (maxRows, maxBytes) = limitsOf(limit)
    if (maxRows == Long.MaxValue && maxBytes == Long.MaxValue)
      return StreamLogOffset(horizon)
    var remRows = maxRows
    var remBytes = maxBytes
    var end = after
    val it = st.index.segmentsAfter(after).iterator
    var go = true
    while (go && it.hasNext) {
      val m = it.next()
      // whole segments only (metadata-planned batches); a segment
      // past the frozen horizon waits for the next run
      if (m.lastOffset <= horizon) {
        end = m.lastOffset
        remRows -= m.records
        remBytes -= m.bytes
        go = remRows > 0 && remBytes > 0
      } else go = false
    }
    StreamLogOffset(end)
  }

  override def deserializeOffset(json: String): SOffset =
    StreamLogOffset(MetaJsonOffset.parse(json))

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val after = start.asInstanceOf[StreamLogOffset].last
    val until = end.asInstanceOf[StreamLogOffset].last
    if (until == Offset.Beginning) return Array.empty
    val st = replayed.filter(_.lastOffset >= until)
      .getOrElse(StreamStores.replay(root, stream))
    val segs = st.index.segmentsAfter(after).filter(m => m.firstOffset <= until)
    StreamLogPartition.plan(root, stream, segs, after, until)
  }

  // built ONCE per stream, not per micro-batch: one broadcast of the
  // Hadoop conf serves every batch of the query
  private lazy val readerFactory = StreamLogReaderFactory.forRoot(root)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
  override def commit(end: SOffset): Unit = () // cursor durability = Spark checkpoint
  override def stop(): Unit = ()
}

private object MetaJsonOffset {
  private val Re = """\{"last":"([^"]*)"\}""".r
  def parse(json: String): String = json match {
    case Re(last) => last
    case other => throw new IllegalArgumentException(s"bad streamlog offset: $other")
  }
}

/** Distributed bulk append: each (range-partitioned, offset-sorted) task
  * writes one immutable segment file; the driver-side commit appends all
  * segment metadata to the log atomically-enough for the single-writer
  * model (the reference serializes through one DO; here the invariant is
  * "one bulk load at a time", and readers replay metadata so they never
  * see half a load). RequiresDistributionAndOrdering makes SPARK enforce
  * the physical invariant — offsets range-partitioned and sorted — so a
  * 100 TB ingest is a single range-shuffle plus embarrassingly parallel
  * segment writes.
  *
  * Overlap with existing segments or between incoming segments fails the
  * commit (no metadata is written; files are orphans the next
  * purgeOrphans() collects after recovery).
  */
class StreamLogWriteBuilder(root: String, stream: String,
                            writerEpoch: Long = 0L,
                            fields: Seq[String] = Seq("offset", "data"),
                            queryId: String = "") extends WriteBuilder {
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val sort: SortOrder =
      Expressions.sort(Expressions.column("offset"), SortDirection.ASCENDING)
    // batch rows carry offsets → globally range-sorted so segments never
    // overlap; streaming rows don't have one yet (the sink assigns) —
    // partition-disjoint counters make any distribution safe
    override def requiredDistribution(): Distribution =
      if (fields == Seq("data")) Distributions.unspecified()
      else Distributions.ordered(Array(sort))
    override def requiredOrdering(): Array[SortOrder] =
      if (fields == Seq("data")) Array.empty else Array(sort)
    override def toBatch: BatchWrite = {
      require(fields == Seq("offset", "data"),
        "batch streamlog writes require (offset STRING, data STRING)")
      new StreamLogBatchWrite(root, stream, writerEpoch)
    }
    override def toStreaming: StreamingWrite = {
      require(fields == Seq("data"),
        "the streamlog streaming sink takes (data STRING) — offsets are " +
          "assigned by the sink at commit granularity, like publish()")
      new StreamLogStreamingWrite(root, stream, writerEpoch, queryId)
    }
  }
}

case class SegmentCommit(name: String, firstOffset: String, lastOffset: String,
                         records: Long, bytes: Long,
                         sha256: String = "") extends WriterCommitMessage

/** Structured Streaming sink for the stream log — exactly-once,
  * offset-assigning, fenced: the native `writeStream.format("streamlog")`
  * path that retires foreachBatch from the produce side.
  *
  *   - OFFSETS: rows arrive as bare `data`; offset epoch = `base +
  *     epochId` where `base` is read once per query start strictly above
  *     everything already in the log (monotone across micro-batches;
  *     a restarted query re-reads the log and starts above its own
  *     earlier commits). The counter is `partitionId · 10^10 + rowIdx` —
  *     partition-disjoint ranges inside an epoch, so tasks never
  *     coordinate and segments never overlap.
  *   - EXACTLY-ONCE: the commit appends a `sink_epoch` marker next to
  *     the segment adds in ONE locked write; a replayed epoch (driver
  *     died between sink commit and checkpoint write) finds
  *     `epochId <= maxSinkEpoch(queryId)` and commits NOTHING — the
  *     retry's re-written .seg files are left unreferenced for
  *     purgeOrphans, exactly like an aborted bulk load.
  *   - FENCED: same writer-epoch check as every other metadata commit
  *     ([[graft.streamlog.StreamLog.claimWriter]]).
  */
class StreamLogStreamingWrite(root: String, stream: String,
                              writerEpoch: Long, queryId: String)
    extends StreamingWrite {

  // per-query epoch base: above the wall clock AND everything in the log
  private val base: Long = {
    val st = StreamStores.replay(root, stream)
    math.max(System.currentTimeMillis(), st.epoch + 1)
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    StreamLogStreamingWriterFactory(root, stream, base, StreamStores.s3AuthFor(root))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val metas = SegmentCommits.metas(messages, s"streaming epoch $epochId")
    // fencing, idempotent replay and overlap with the log: MetaCommits
    if (metas.nonEmpty)
      MetaCommits.commitSinkEpoch(StreamStores.metaStore(root, stream),
        writerEpoch, queryId, epochId, metas)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SegmentCommits.abort(root, stream, messages)
}

case class StreamLogStreamingWriterFactory(root: String, stream: String, base: Long,
                                           auth: Option[AuthSnapshot] = None)
    extends StreamingDataWriterFactory {
  /** 10^10 rows per partition per epoch; 10^6 partitions fit the
    * 16-digit counter field. */
  private val PartitionStride = 10000000000L

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SegmentWriter(root, stream, s"s-$partitionId-$taskId-$epochId", auth, dataCol = 0) {
      private val epoch = base + epochId
      override protected def offsetOf(row: InternalRow): String = {
        require(written < PartitionStride,
          s"partition $partitionId exceeded $PartitionStride rows in one epoch")
        Offset.serialize(epoch, partitionId * PartitionStride + written)
      }
    }
}

class StreamLogBatchWrite(root: String, stream: String,
                          writerEpoch: Long = 0L) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    StreamLogWriterFactory(root, stream, StreamStores.s3AuthFor(root))

  /** Atomic against OTHER bulk loads through the conditional append
    * ([[MetaCommits.commitBulk]] re-validates fencing and non-overlap
    * against the log at each attempt's tag); load-vs-publish
    * serialization is the caller's job, as in the reference, where one
    * Durable Object serializes all writes. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val metas = SegmentCommits.metas(messages, "bulk load")
    if (metas.nonEmpty)
      MetaCommits.commitBulk(StreamStores.metaStore(root, stream), writerEpoch, metas)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SegmentCommits.abort(root, stream, messages)
}

case class StreamLogWriterFactory(root: String, stream: String,
                                  auth: Option[AuthSnapshot] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SegmentWriter(root, stream, s"w-$partitionId-$taskId", auth, dataCol = 1) {
      override protected def offsetOf(row: InternalRow): String = {
        val off = row.getUTF8String(0).toString
        require(off.length == Offset.Width, s"bad offset '$off'")
        require(lastOffset.forall(_ < off), s"unsorted offsets: ${lastOffset.orNull} then $off")
        off
      }
    }
}

/** The one DSv2 segment writer behind both write paths: a task spools
  * `offset ++ data ++ '\n'` lines, digests the spooled bytes as it goes
  * (no re-read at commit) and puts the spool as one segment. The
  * factories say only where a row's offset comes from ([[offsetOf]]). */
private[sources] abstract class SegmentWriter(root: String, stream: String,
                                              spoolHint: String,
                                              auth: Option[AuthSnapshot],
                                              dataCol: Int)
    extends DataWriter[InternalRow] {
  auth.foreach(S3Auth.ensureRegistered)
  private val store = StreamStores.segmentStore(root, stream)
  private val tmp = store.newSpool(spoolHint)
  private lazy val out = Files.newBufferedWriter(tmp, UTF_8)
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private var first: String = _
  private var last: String = _
  private var records = 0L
  private var bytes = 0L

  protected def written: Long = records
  protected def lastOffset: Option[String] = Option(last)
  /** This row's offset — assigned or read from the row, and validated. */
  protected def offsetOf(row: InternalRow): String

  override def write(row: InternalRow): Unit = {
    val off = offsetOf(row)
    val data = row.getUTF8String(dataCol).toString
    require(!data.contains('\n') && !data.contains('\r'),
      "records must not contain newlines (NDJSON segment format)")
    if (first == null) first = off
    last = off
    out.write(off); out.write(data); out.write("\n")
    val dataBytes = data.getBytes(UTF_8)
    md.update(off.getBytes(UTF_8)); md.update(dataBytes); md.update('\n'.toByte)
    records += 1
    bytes += Offset.Width + 1L + dataBytes.length
  }

  override def commit(): WriterCommitMessage = {
    if (records == 0) {
      // the default newSpool creates the file eagerly: don't leak it
      Files.deleteIfExists(tmp)
      return SegmentCommit("", "", "", 0L, 0L)
    }
    out.close()
    val name = s"$first-${java.util.UUID.randomUUID()}.seg"
    store.putFromFile(name, tmp)
    SegmentCommit(name, first, last, records, bytes, SegmentIntegrity.hex(md))
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    Files.deleteIfExists(tmp)
  }
  override def close(): Unit = ()
}

/** The driver side shared by both write paths' commit and abort. */
private[sources] object SegmentCommits {

  /** The tasks' non-empty segments as metadata, offset-sorted; refuses
    * overlap between them (overlap with the log is MetaCommits'). */
  def metas(messages: Array[WriterCommitMessage], what: String): Seq[SegmentMeta] = {
    val segs = messages.collect { case s: SegmentCommit if s.records > 0 => s }
      .sortBy(_.firstOffset)
    segs.sliding(2).foreach {
      case Array(a, b) => require(a.lastOffset < b.firstOffset,
        s"overlapping segments in $what: ${a.name} / ${b.name}")
      case _ =>
    }
    val now = System.currentTimeMillis()
    segs.map(s => SegmentMeta(s.name, s.firstOffset, s.lastOffset, now,
      s.records, s.bytes, s.sha256)).toSeq
  }

  def abort(root: String, stream: String, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case s: SegmentCommit if s.name.nonEmpty =>
        StreamStores.segmentStore(root, stream).delete(s.name)
      case _ =>
    }
}

/** One segment scanned for offsets in (after, until]; empty `until`
  * means unbounded (batch reads). The task opens it with
  * [[graft.streamlog.SegmentTasks.lines]], the reader readAfter and
  * compaction use too. */
case class StreamLogPartition(root: String, stream: String, seg: String,
                              after: String, until: String,
                              path: Option[String] = None,
                              auth: Option[AuthSnapshot] = None,
                              sha256: String = "")
    extends InputPartition

object StreamLogPartition {
  /** One partition per segment reading (after, until]; the driver's S3
    * credentials ride each so a fresh executor JVM signs its GETs. */
  def plan(root: String, stream: String, segs: Seq[SegmentMeta],
           after: String, until: String): Array[InputPartition] = {
    val auth = StreamStores.s3AuthFor(root)
    SegmentTasks.plan(StreamStores.segmentStore(root, stream), segs)
      .map(r => StreamLogPartition(root, stream, r.seg, after, until,
        r.path, auth, r.sha256): InputPartition)
      .toArray
  }
}

/** Reads a [[StreamLogPartition]] and keeps its (after, until] rows.
  * `conf` is the DRIVER's Hadoop configuration, broadcast once per scan
  * ([[SegmentTasks.hadoopConf]]; None on `mem:` and `s3:` roots, whose
  * partitions carry no path): a bare `new Configuration()` in the task
  * would ignore the `spark.hadoop.*` session properties that configure
  * s3a credentials, and a conf held by the factory itself would be
  * deserialized again by every task. */
case class StreamLogReaderFactory(conf: Option[Broadcast[SerializableConfiguration]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StreamLogPartition]
    new PartitionReader[InternalRow] {
      private val lines = SegmentTasks.lines(p.root, p.stream, p.seg, p.sha256,
          p.path, p.auth, conf)
        .filter { l =>
          l.length >= Offset.Width && {
            val off = l.substring(0, Offset.Width)
            (p.after == Offset.Beginning || off > p.after) &&
              (p.until.isEmpty || off <= p.until)
          }
        }
      override def next(): Boolean = lines.hasNext
      override def get(): InternalRow = {
        val l = lines.next()
        InternalRow(
          UTF8String.fromString(l.substring(0, Offset.Width)),
          UTF8String.fromString(l.substring(Offset.Width)))
      }
      override def close(): Unit = ()
    }
  }
}

object StreamLogReaderFactory {
  /** A factory for `root`'s scans, with the active session's Hadoop conf
    * broadcast when the root's partitions carry paths. */
  def forRoot(root: String): StreamLogReaderFactory = StreamLogReaderFactory(
    SegmentTasks.hadoopConf(org.apache.spark.sql.SparkSession.active, root))
}
