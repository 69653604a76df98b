package graft.perfbench

import java.util.concurrent.locks.LockSupport

/** Open-loop load: call `i` is DUE at start + i / rate, whatever became
  * of the calls before it. A call that overruns its slot delays the
  * next call's start, never its due time, so a stall is charged to
  * every call queued behind it; callers time each call from `dueNs`.
  * `lateMs` holds how late each call started against its due time,
  * which is how far the generator itself fell behind. */
final class OpenLoop(ratePerSec: Double,
                     clock: () => Long = () => System.nanoTime(),
                     park: Long => Unit = LockSupport.parkNanos) {
  require(ratePerSec > 0, s"rate must be positive, got $ratePerSec")
  val periodNs: Long = math.round(1e9 / ratePerSec)
  private val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  def lateMs: Seq[Double] = late.toArray.toSeq.map(_.asInstanceOf[Double])

  /** Run calls until `durationNs` has passed since the first due time;
    * returns the number of calls made. */
  def run(durationNs: Long)(call: (Long, Long) => Unit): Long = {
    val start = clock()
    var i = 0L
    var due = start
    while (due - start < durationNs) {
      var now = clock()
      while (now < due) { park(due - now); now = clock() }
      late.add((now - due) / 1e6)
      call(i, due)
      i += 1
      due = start + i * periodNs
    }
    i
  }
}
