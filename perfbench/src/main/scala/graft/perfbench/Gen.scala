package graft.perfbench

import java.util.SplittableRandom

/** Seeded inputs. Every payload and cursor is a pure function of the
  * run's seed and a position, so two runs with one seed publish and
  * read byte-identical data, and a checker can re-derive what any
  * position must hold without keeping the records themselves. */
final class Gen(val seed: Long) {
  private val words = Array("spark", "stream", "segment", "offset", "merge",
    "window", "batch", "commit", "replay", "bucket", "probe", "tail", "scan",
    "record", "cursor", "epoch", "index", "object", "range", "digest")

  private def rng(a: Long, b: Long): SplittableRandom =
    new SplittableRandom(Gen.mix(seed, Gen.mix(a, b)))

  /** Record `j` of publish call `call` on stream `stream`: a one-line
    * JSON object of 90 to 160 bytes. */
  def payload(stream: Int, call: Long, j: Int): String = {
    val r = rng(stream.toLong << 40 | call, j.toLong)
    val text = Array.fill(4 + r.nextInt(8))(words(r.nextInt(words.length))).mkString(" ")
    s"""{"s":$stream,"c":$call,"j":$j,"user":"u${r.nextInt(10000)}",""" +
      s""""v":${r.nextInt(1000000)},"text":"$text"}"""
  }

  /** The records of one publish call. */
  def batch(stream: Int, call: Long, records: Int): Vector[String] =
    Vector.tabulate(records)(j => payload(stream, call, j))

  /** The `i`-th position drawn uniformly from [from, until) for
    * purpose `tag`. */
  def position(tag: Int, i: Long, from: Int, until: Int): Int = {
    require(until > from, s"empty range [$from, $until)")
    from + rng(tag.toLong << 48 | 1L, i).nextInt(until - from)
  }
}

object Gen {
  /** SplitMix64 finaliser over two words: a well-spread stream seed. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
