package graft.streamlog

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs of one block ran: jobs, stages submitted, tasks
  * ended and the bytes those tasks wrote to shuffle files. */
final case class JobShape(jobs: Int, stages: Int, tasks: Int, shuffleWriteBytes: Long)

object JobShape {
  private val GroupKey = "spark.jobGroup.id"

  /** Runs `body` under a job group of its own, so jobs that other
    * threads run at the same time are not counted. */
  def of[T](spark: SparkSession)(body: => T): (T, JobShape) = {
    val sc = spark.sparkContext
    val group = s"job-shape-${UUID.randomUUID()}"
    def ours(p: java.util.Properties) = p != null && p.getProperty(GroupKey) == group
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger
    val shuffle = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job shape")
    try {
      val out = body
      SpecBus.drain(sc)
      (out, JobShape(jobs.get, stages.size, tasks.get, shuffle.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
