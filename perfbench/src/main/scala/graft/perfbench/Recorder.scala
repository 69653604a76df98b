package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** The traced run's in-memory record: spans around each call the
  * benchmark makes into a layer, counters taken at the same
  * boundaries, and per-span duration samples. Disabled, every method
  * is a pass-through, so the untraced run pays one branch per call.
  * Spans are written out once, when the run ends. */
final class Recorder(val enabled: Boolean) {
  import Recorder.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[String](() => "")
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val costNs = new LongAdder

  /** Time `f` as span `name`, child of the innermost open span on this
    * thread; its duration in ms joins sample `name`. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val c0 = System.nanoTime()
      val id = ids.getAndIncrement()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      costNs.add(t0 - c0)
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), request.get(), name, t0, t1))
        sample(name, (t1 - t0) / 1e6)
        costNs.add(System.nanoTime() - t1)
      }
    }

  /** Run `f` with every span it opens on this thread tagged `req`. */
  def withRequest[T](req: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = request.get()
      request.set(req)
      try f finally request.set(outer)
    }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) adder(name).add(n)

  /** The counter `name` itself, for a caller that counts per item. */
  def adder(name: String): LongAdder = counters.computeIfAbsent(name, _ => new LongAdder)

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Forget everything recorded so far: the measured window starts here. */
  def reset(): Unit = { spans.clear(); counters.clear(); samples.clear(); costNs.reset() }

  def spanCount: Int = spans.size()
  /** Time spent in span bookkeeping itself. */
  def costMs: Double = costNs.sum() / 1e6

  /** One JSON object per span, in the order spans closed. */
  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.iterator.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "req" -> Json.str(s.req),
      "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString)))
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }
}

object Recorder {
  final case class Span(id: Long, parent: Long, req: String, name: String,
                        startNs: Long, endNs: Long)
}
