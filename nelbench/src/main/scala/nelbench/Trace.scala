package nelbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object SpanListener {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** Task totals of every Spark job whose description is one span name. */
final class TaskTotals {
  var taskS = 0.0
  var gcS = 0.0
  var shuffleWriteB = 0L
  var spillB = 0L
  var maxTaskRecords = 0L
  var jobs = 0
}

/**
 * Attributes task metrics to spans: every job started while a span is
 * open carries the span name as its `spark.job.description`, which the
 * scheduler copies onto each stage it submits (AQE query stages included).
 */
final class SpanListener extends SparkListener {
  private val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val totals = mutable.Map.empty[String, TaskTotals]

  private def desc(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.JobDescription)))
      .getOrElse("")

  private def of(d: String): TaskTotals = totals.getOrElseUpdate(d, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    of(desc(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageDesc.put(e.stageInfo.stageId, desc(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = of(stageDesc.getOrDefault(e.stageId, ""))
      t.taskS += m.executorRunTime / 1e3
      t.gcS += m.jvmGCTime / 1e3
      t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      t.spillB += m.diskBytesSpilled
      t.maxTaskRecords = math.max(t.maxTaskRecords, Seq(
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten, m.outputMetrics.recordsWritten).max)
    }
  }

  /** Totals per description; the caller drains the listener bus first. */
  def snapshot(): Map[String, TaskTotals] = synchronized(totals.toMap)
  def reset(): Unit = synchronized(totals.clear())
}

/** One span: a layer call made from the benchmark, with its parent. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans nest by call order; a span's self time
 * is its duration minus the time its direct children cover. Spans are
 * written out once, when the run ends.
 */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    spans += s
    open = s.id :: open
    val prevDesc = sc.getLocalProperty(SpanListener.JobDescription)
    sc.setJobDescription(name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setJobDescription(prevDesc)
    }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** The latest closed span with this name. */
  def last(name: String): Span = spans.findLast(_.name == name)
    .getOrElse(sys.error(s"no span named $name"))

  def toJsonLines(runTag: String): Seq[String] = spans.toSeq.map { s =>
    s"""{"run":${Json.str(runTag)},"id":${s.id},"parent":${s.parent},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${Json.num(selfSeconds(s))}}"""
  }
}
