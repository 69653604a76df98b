package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Jobs, tasks and task run time summed per Spark job group. The benchmark sets a group
  * on each of its own threads that starts Spark work ([[SparkProbe]]
  * names them); streaming queries run under their run id, which lands
  * in [[TaskTally.Other]]. */
final class TaskTally extends SparkListener {
  import TaskTally._
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tallies = new ConcurrentHashMap[String, Tally]()

  private def tally(g: String): Tally = tallies.computeIfAbsent(g, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(SparkProbe.Groups.contains).getOrElse(Other)
    tally(g).jobs.increment()
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = tally(stageGroup.getOrDefault(e.stageId, Other))
    t.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      t.runMs.add(m.executorRunTime)
      t.cpuNs.add(m.executorCpuTime)
      t.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      t.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def of(group: String): Tally = tally(group)

  /** Forget the tallies so far: the measured window starts here. */
  def reset(): Unit = tallies.clear()
}

object TaskTally {
  val Other = "other"
  final class Tally {
    val jobs, tasks, runMs, cpuNs, shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = new LongAdder
  }
}

/** Micro-batch phase durations from each query progress event. */
final class ProgressTally(rec: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      rec.count("microbatch.batches")
      rec.sample("microbatch.rows", p.numInputRows.toDouble)
      val d = p.durationMs
      Seq("triggerExecution" -> "trigger", "latestOffset" -> "latest_offset",
        "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
        "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
        .foreach { case (k, n) =>
          Option(d.get(k)).foreach(v => rec.sample(s"microbatch.$n", v.doubleValue))
        }
    }
  }
}

object SparkProbe {
  /** Job groups the benchmark's own threads run Spark work under. */
  val Maintain = "perfbench-maintain"
  val Scan = "perfbench-scan"
  val Registry = "perfbench-registry"
  val Groups: Set[String] = Set(Maintain, Scan, Registry)

  /** Run `f` with this thread's Spark jobs in `group`. */
  def inGroup[T](spark: org.apache.spark.sql.SparkSession, group: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }
}

/** The planning phases of each query the registry workload runs, from
  * the tracker Spark already filled in: nothing is planned twice. */
final class PhaseTally(rec: Recorder) extends org.apache.spark.sql.util.QueryExecutionListener {
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => rec.sample(s"registry.$p", s.durationMs.toDouble))
    }
    rec.sample("registry.exec", durationNs / 1e6)
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}
