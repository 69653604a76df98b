package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process CPU, GC time, heap peak, host load and host CPU, read at the
  * start and end of the measured window. A window in which the
  * hypervisor stole more than a twentieth of the cores, or other
  * processes took more than a quarter, is flagged `contended`, so the
  * run can be set aside instead of averaged in. Host CPU counts this
  * process's loopback interrupt work as other, about 0.2 core here. */
object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** 1-minute load average; -1 where /proc is unavailable. */
  def load1: Double =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** (busy, steal) host CPU jiffies from /proc/stat's first line
    * (user + nice + system + irq + softirq; steal); zeros where
    * unavailable. */
  def hostJiffies: (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  /** Steal ticks the host has counted so far. */
  def stealTicks: Long = hostJiffies._2

  /** Cores stolen on average while steal ticks grew by `ticks` over
    * `wallNs`; /proc/stat counts in USER_HZ ticks, 100 a second. */
  def stealCores(ticks: Long, wallNs: Long): Double =
    if (wallNs > 0) ticks / 100.0 / (wallNs / 1e9) else 0.0

  /** Whether the hypervisor took more than a twentieth of the cores:
    * the stretch of time is then contended. */
  def stolen(stealCores: Double): Boolean = stealCores > 0.05 * cores

  /** Steal ticks read at points in time, so that how many cores the
    * hypervisor stole in any stretch between readings can be told
    * afterwards. */
  final class StealTrack(ticks: () => Long = () => stealTicks, clock: () => Long = () => System.nanoTime()) {
    private val at = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def read(): Unit = synchronized { at += ((clock(), ticks())) }

    /** Cores stolen from the last reading at or before `fromNs` to the
      * first at or after `toNs` (or the last reading). */
    def cores(fromNs: Long, toNs: Long): Double = synchronized {
      val a = math.max(0, at.lastIndexWhere(_._1 <= fromNs))
      val b = at.indexWhere(_._1 >= toNs) match { case -1 => at.size - 1; case i => i }
      if (b <= a) 0.0 else stealCores(at(b)._2 - at(a)._2, at(b)._1 - at(a)._1)
    }
  }

  final case class Mark(wallNs: Long, cpuNs: Long, gcMs: Long, load1: Double,
                        hostBusy: Long, hostSteal: Long)

  def mark(): Mark = {
    val (busy, steal) = hostJiffies
    Mark(System.nanoTime(), processCpuNs, gcMs, load1, busy, steal)
  }

  /** Start a measured window: heap peaks are reset so the end reading
    * covers this window only. */
  def start(): Mark = { heapPools.foreach(_.resetPeakUsage()); mark() }

  final case class Window(wallS: Double, cpuS: Double, gcS: Double, heapPeak: Long,
                          loadStart: Double, loadEnd: Double,
                          otherCores: Double, stealCores: Double) {
    def contended: Boolean = stolen(stealCores) || otherCores > 0.25 * cores

    def json: String = Json.obj(Seq(
      "cores" -> cores.toString, "wall_s" -> Json.num(wallS), "process_cpu_s" -> Json.num(cpuS),
      "gc_s" -> Json.num(gcS), "heap_peak_bytes" -> heapPeak.toString,
      "load1_start" -> Json.num(loadStart), "load1_end" -> Json.num(loadEnd),
      "other_cores" -> Json.num(otherCores), "steal_cores" -> Json.num(stealCores),
      "contended" -> contended.toString))
  }

  def window(from: Mark): Window = {
    val to = mark()
    val wall = (to.wallNs - from.wallNs) / 1e9
    val cpu = (to.cpuNs - from.cpuNs) / 1e9
    // /proc/stat counts in USER_HZ ticks, 100 per second on Linux
    def cores(ticks: Long): Double = if (wall > 0) ticks / 100.0 / wall else 0.0
    Window(wall, cpu, (to.gcMs - from.gcMs) / 1e3, heapPools.map(_.getPeakUsage.getUsed).sum,
      from.load1, to.load1,
      math.max(0.0, cores(to.hostBusy - from.hostBusy) - (if (wall > 0) cpu / wall else 0.0)),
      cores(to.hostSteal - from.hostSteal))
  }
}
