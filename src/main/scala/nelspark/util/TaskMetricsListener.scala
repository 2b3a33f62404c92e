package nelspark.util

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task time, GC, shuffle bytes and fetch wait per Spark stage, and wall
  * time and description per job. Events arrive on an async bus: drain it
  * (`NelShim.waitForListenerBus`) before [[reset]] and before reading, or
  * the tail tasks of one section are billed to the next. */
final class TaskMetricsListener extends SparkListener {
  import TaskMetricsListener._
  private val perStage = mutable.Map.empty[Int, Totals]
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val finished = mutable.ArrayBuffer.empty[Job]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val t = Totals(1L, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime)
    synchronized { perStage(e.stageId) = perStage.getOrElse(e.stageId, Totals()) + t }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, desc) =>
      finished += Job(e.jobId, (e.time - t0) / 1e3, desc)
    }
  }

  /** Forgets the tasks and finished jobs recorded so far. */
  def reset(): Unit = synchronized { perStage.clear(); finished.clear() }

  /** (stage id, totals) of each stage that ran a task since [[reset]]. */
  def stages: Seq[(Int, Totals)] = synchronized(perStage.toSeq.sortBy(_._1))

  def total: Totals = stages.map(_._2).foldLeft(Totals())(_ + _)

  /** Jobs finished since [[reset]], by job id. */
  def jobs: Seq[Job] = synchronized(finished.sortBy(_.id).toSeq)
}

object TaskMetricsListener {
  /** Task totals, with times in ms as Spark reports them. */
  final case class Totals(tasks: Long = 0L, taskMs: Long = 0L, gcMs: Long = 0L,
      shuffleWriteBytes: Long = 0L, shuffleReadBytes: Long = 0L, fetchWaitMs: Long = 0L) {
    def +(o: Totals): Totals = Totals(tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
      fetchWaitMs + o.fetchWaitMs)
  }

  final case class Job(id: Int, wallS: Double, description: String)
}
