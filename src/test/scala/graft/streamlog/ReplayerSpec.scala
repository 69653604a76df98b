package graft.streamlog

import org.scalatest.funsuite.AnyFunSuite

/** [[MetaLog.Replayer]] against [[MetaLog.replayLines]], seeded: a
  * replayer fed a log's prefixes folds only each prefix's new lines,
  * and a log that does not extend the last one it saw — a checkpoint
  * rewrite, a shorter log, a log that differs in an early line — is
  * replayed in full. Either way its State must equal a replay from
  * scratch. A failure reports its seed.
  */
class ReplayerSpec extends AnyFunSuite {

  /** A random log over every line type the replay knows, plus one it
    * does not: adds with increasing offsets, tombstones and purges of
    * names it added (and of unknown names), version, writer,
    * sink_epoch, destroy and an unknown type. */
  private def randomLog(rng: scala.util.Random, n: Int): Vector[String] = {
    var names = Vector.empty[String]
    var epoch = 1000L
    Vector.fill(n) {
      rng.nextInt(10) match {
        case 0 | 1 | 2 =>
          epoch += 1 + rng.nextInt(3)
          val k = 1 + rng.nextInt(5)
          val m = SegmentMeta(s"$epoch-${names.size}.seg", Offset.serialize(epoch, 0),
            Offset.serialize(epoch, k - 1L), epoch, k.toLong, 40L * k,
            sha256 = if (rng.nextBoolean()) "ab" * 32 else "")
          names :+= m.name
          MetaJson.add(m)
        case 3 =>
          val nm = if (names.nonEmpty && rng.nextInt(4) > 0) names(rng.nextInt(names.size))
            else s"ghost-${rng.nextInt(100)}.seg"
          MetaJson.tombstone(nm, rng.nextInt(1000).toLong)
        case 4 =>
          val nm = if (names.nonEmpty) names(rng.nextInt(names.size)) else "none.seg"
          MetaJson.purge(nm)
        case 5 => MetaJson.version(rng.nextInt(20).toLong)
        case 6 => MetaJson.writer(rng.nextInt(20).toLong)
        case 7 => MetaJson.sinkEpoch(s"q${rng.nextInt(3)}", rng.nextInt(50).toLong)
        case 8 => if (rng.nextInt(4) == 0) """{"type":"destroy"}""" else MetaJson.version(1)
        case _ => s"""{"type":"mystery_${rng.nextInt(3)}","x":${rng.nextInt(9)}}"""
      }
    }
  }

  /** Strictly increasing cut points in [0, n], ending at n. */
  private def cuts(rng: scala.util.Random, n: Int): Seq[Int] =
    (Iterator.iterate(0)(c => c + rng.nextInt(6)).takeWhile(_ < n).toSeq :+ n).distinct

  test("seeded: a Replayer fed random prefixes, checkpoint rewrites, shorter logs and early-line edits equals replayLines") {
    (1 to 300).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val log = randomLog(rng, 1 + rng.nextInt(80))
      val r = new MetaLog.Replayer
      def check(lines: Vector[String], what: String): Unit =
        assert(r(lines) == MetaLog.replayLines(lines), s"seed=$seed $what (${lines.size} lines)")

      cuts(rng, log.size).foreach(c => check(log.take(c), s"prefix $c of ${log.size}"))
      // a checkpoint rewrite does not extend the log it replaces
      val snap = MetaCommits.snapshotLines(log)
      check(snap, "checkpoint rewrite")
      check(snap ++ log.takeRight(3), "lines appended after the rewrite")
      // a shorter log
      val k = rng.nextInt(log.size)
      check(log.take(k), s"shorter log $k")
      // a log as long as the last one plus a line, differing in an early
      // line: folding only the new line would keep the old early line
      check(log, "the full log again")
      val i = rng.nextInt(math.max(1, log.size / 4))
      val edited = log.updated(i, randomLog(rng, 1).head) :+ MetaJson.version(99)
      check(edited, s"line $i edited")
    }
  }

  test("a log whose first line differs is replayed in full, not folded onto the cached state") {
    val base = (1 to 3).map(i => MetaJson.version(i.toLong)).toVector
    val r = new MetaLog.Replayer
    assert(r(base).producerVersion == 3L)
    assert(r(base :+ MetaJson.writer(4)).writerEpoch == 4L)
    // an add missing its offsets throws when parsed: only a full replay
    // reaches line 0 of this log
    val bad = base.updated(0, """{"type":"add","name":"x"}""") :+ MetaJson.writer(4) :+
      MetaJson.writer(5)
    intercept[NoSuchElementException](MetaLog.replayLines(bad))
    intercept[NoSuchElementException](r(bad))
  }
}
