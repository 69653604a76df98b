package graft.streamlog

/** Metadata for one immutable NDJSON log segment.
  * Mirrors the reference's SegmentMetadata (/root/reference/src/segment.ts:3-14):
  * {name, firstOffset, lastOffset, createdMS, records, bytes}. Segments never
  * overlap in offset range; the index is keyed by firstOffset.
  *
  * `sha256` (r18, VERDICT r17 #7) is the hex SHA-256 of the segment's
  * exact stored bytes, recorded at COMMIT time by every writer (publish,
  * compaction, DSv2 bulk/streaming) and verified by full-segment readers
  * ([[SegmentIntegrity]]). Empty = unknown (legacy metadata lines, or a
  * crash-rebuild where the on-store bytes are themselves the source of
  * truth) — readers skip verification for those segments, so old logs
  * replay unchanged.
  */
final case class SegmentMeta(
    name: String,
    firstOffset: String,
    lastOffset: String,
    createdMS: Long,
    records: Long,
    bytes: Long,
    sha256: String = "")

/** Hand-rolled JSON for the tiny metadata log — zero deps, line-oriented.
  * Entry types: add (segment becomes live), tombstone (segment compacted
  * away, kept for age-based cleanup), version (producer fencing bump),
  * destroy (stream reset marker).
  */
object MetaJson {
  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def add(m: SegmentMeta): String = {
    // sha256 emitted only when known, so logs written before r18 and
    // logs written after it round-trip byte-identically through the
    // checkpoint rewrite (replay → re-emit must be a fixpoint)
    val sha = if (m.sha256.isEmpty) "" else s""","sha256":"${m.sha256}""""
    s"""{"type":"add","name":"${esc(m.name)}","firstOffset":"${m.firstOffset}","lastOffset":"${m.lastOffset}","createdMS":${m.createdMS},"records":${m.records},"bytes":${m.bytes}$sha}"""
  }

  def tombstone(name: String, tombstonedMS: Long): String =
    s"""{"type":"tombstone","name":"${esc(name)}","tombstonedMS":$tombstonedMS}"""

  def purge(name: String): String =
    s"""{"type":"purge","name":"${esc(name)}"}"""

  def version(v: Long): String =
    s"""{"type":"version","producer_version":$v}"""

  /** Streaming-sink epoch high-water mark (r12): the exactly-once
    * marker the DSv2 streaming sink appends atomically WITH an epoch's
    * segment adds — a replayed epoch (driver died between sink commit
    * and checkpoint write) sees its id at/below the mark and commits
    * nothing. One marker per micro-batch; epochs commit in order per
    * query, so only the max matters. */
  def sinkEpoch(queryId: String, epochId: Long): String =
    s"""{"type":"sink_epoch","qid":"${esc(queryId)}","epoch_id":$epochId}"""

  /** Writer-epoch fencing token (SURVEY §2.1 #21): the reference's
    * producer-version fencing (stream_manager.ts:240-267) applied at the
    * METADATA-COMMIT layer, so stale-writer exclusion lives in the log
    * itself rather than in a POSIX advisory lock that object storage
    * doesn't provide. */
  def writer(epoch: Long): String =
    s"""{"type":"writer","writer_epoch":$epoch}"""
  // (no `destroy` builder: StreamLog.destroy deletes the whole stream dir,
  // log included; MetaLog.replay still honors a "destroy" marker so an
  // external writer may truncate-reset a log in place.)

  // -- minimal parser for the fixed shapes above (no nesting, no arrays) --

  private val Str = """"([^"]*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private val Num = """"([^"]*)"\s*:\s*(-?\d+)""".r

  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n'  => b += '\n'; i += 2
          case 'r'  => b += '\r'; i += 2
          case 't'  => b += '\t'; i += 2
          case 'u'  => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o    => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }

  /** Parse one metadata-log line into (strings, numbers) field maps. */
  def parseLine(line: String): (Map[String, String], Map[String, Long]) = {
    val strs = Str.findAllMatchIn(line).map(m => m.group(1) -> unesc(m.group(2))).toMap
    val nums = Num.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toLong).toMap
    (strs, nums)
  }
}

/** Pure (session-free) replay of a stream's metadata log — shared by
  * StreamLog's cold start and the DataSource V2 connector, which must
  * load the segment index on the driver without a StreamLog instance.
  */
object MetaLog {

  final case class State(
      index: SegmentIndex,
      tombstones: Map[String, Long],
      producerVersion: Long,
      lastOffset: String,
      epoch: Long,
      writerEpoch: Long = 0L)

  def replay(metaPath: java.nio.file.Path): State =
    replayLines(readLines(metaPath))

  private def readLines(metaPath: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(metaPath)) Seq.empty
    else java.nio.file.Files
      .readAllLines(metaPath, java.nio.charset.StandardCharsets.UTF_8)
      .asScala.toSeq
  }

  /** The state of an empty log. */
  val Empty: State = State(SegmentIndex.empty, Map.empty, 0L, "", 0L)

  /** Replay from already-read log lines — the [[MetaStore]] form (a
    * conditional commit decides against the lines its read returned,
    * not against a possibly-fresher file). */
  def replayLines(allLines: Seq[String]): State = replayFrom(Empty, allLines)

  /** Fold `lines` onto `state`, the state of the lines before them:
    * `replayFrom(replayLines(a), b) == replayLines(a ++ b)`. */
  def replayFrom(state: State, lines: Iterable[String]): State = {
    var index = state.index
    var tombstones = state.tombstones
    var version = state.producerVersion
    var writerEpoch = state.writerEpoch
    lines.foreach { line =>
      if (line.nonEmpty) {
        val (s, n) = MetaJson.parseLine(line)
        s.get("type").orElse(Some(if (n.contains("producer_version")) "version" else "")).get match {
          case "add" =>
            index = index.add(SegmentMeta(s("name"), s("firstOffset"), s("lastOffset"),
              n("createdMS"), n("records"), n("bytes"), s.getOrElse("sha256", "")))
          case "tombstone" =>
            index.segments.find(_.name == s("name")).foreach(m => index = index.remove(m))
            tombstones += s("name") -> n("tombstonedMS")
          case "purge" => tombstones -= s("name")
          case "version" => version = n("producer_version")
          case "writer" => writerEpoch = n("writer_epoch")
          case "destroy" =>
            index = SegmentIndex.empty; tombstones = Map.empty; version = 0L
            writerEpoch = 0L
          case _ => // unknown entry type: ignore (forward compatibility)
        }
      }
    }
    State(index, tombstones, version,
      index.max.map(_.lastOffset).getOrElse(""),
      index.max.map(m => Offset.parse(m.lastOffset)._1).getOrElse(0L),
      writerEpoch)
  }

  /** [[replayLines]] that remembers the last log it replayed. A log
    * that extends that one line for line costs a fold of its new lines
    * only (a poll arrival adds one line, a trigger about twenty); any
    * other log — a checkpoint rewrite, a destroy, a shorter log, an
    * early line that differs — is replayed in full. */
  final class Replayer {
    private var last: (Vector[String], State) = (Vector.empty, Empty)

    def apply(lines: Vector[String]): State = synchronized {
      val (prev, st) = last
      val next =
        if (lines.length >= prev.length && lines.startsWith(prev))
          replayFrom(st, lines.view.drop(prev.length))
        else replayLines(lines)
      last = (lines, next)
      next
    }
  }

  /** The streaming sink's committed-epoch high-water mark for one query
    * id (−1 = none) — the idempotent-replay read, same shape as
    * [[writerEpoch]]: scans only sink_epoch/destroy lines. */
  def maxSinkEpoch(metaPath: java.nio.file.Path, queryId: String): Long =
    maxSinkEpochOf(readLines(metaPath), queryId)

  /** EVERY query id's sink-epoch high-water mark — what a metadata-log
    * checkpoint must carry forward so exactly-once survives the
    * rewrite ([[MetaCommits.checkpoint]]). */
  def sinkEpochsOf(allLines: Seq[String]): Map[String, Long] = {
    var m = Map.empty[String, Long]
    allLines.foreach { line =>
      if (line.contains("\"sink_epoch\"")) {
        val (s, n) = MetaJson.parseLine(line)
        for (q <- s.get("qid"); e <- n.get("epoch_id"))
          m += q -> math.max(m.getOrElse(q, -1L), e)
      } else if (line.contains("\"destroy\"")) m = Map.empty
    }
    m
  }

  /** [[maxSinkEpoch]] over already-read lines (the [[MetaStore]] form). */
  def maxSinkEpochOf(allLines: Seq[String], queryId: String): Long = {
    var e = -1L
    allLines.foreach { line =>
      if (line.contains("\"sink_epoch\"")) {
        val (s, n) = MetaJson.parseLine(line)
        if (s.get("qid").contains(queryId))
          n.get("epoch_id").foreach(v => e = math.max(e, v))
      } else if (line.contains("\"destroy\"")) e = -1L
    }
    e
  }

  /** The log's current writer epoch alone — the pre-commit fencing read.
    * Scans only writer/destroy lines (the parse is skipped for segment
    * adds, which dominate the log), so the check a fenced commit performs
    * is one sequential read of a small metadata file, an operation every
    * storage backend (POSIX, S3/R2 GET) supports — unlike advisory locks.
    */
  def writerEpoch(metaPath: java.nio.file.Path): Long =
    writerEpochOf(readLines(metaPath))

  /** [[writerEpoch]] over already-read lines (the [[MetaStore]] form). */
  def writerEpochOf(allLines: Seq[String]): Long = {
    var e = 0L
    allLines.foreach { line =>
      if (line.contains("\"writer_epoch\"")) {
        val (_, n) = MetaJson.parseLine(line)
        n.get("writer_epoch").foreach(e = _)
      } else if (line.contains("\"destroy\"")) e = 0L
    }
    e
  }
}
