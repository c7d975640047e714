package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval on the benchmark's driver thread. Times are epoch
  * milliseconds with sub-millisecond resolution (a monotonic clock anchored
  * once to the wall clock), so they compare with Spark's job timestamps.
  */
final case class Span(id: Int, name: String, parent: Int, req: Int, start: Double, end: Double)

/** A Spark job as seen by [[JobListener]]; `span` is the id of the
  * benchmark span whose local property the submitting thread carried, or
  * -1 when the thread carried none.
  */
final class JobRec(val id: Int, val start: Long, val span: Int) {
  var end: Long = -1L
  var tasks: Int = 0
  var recordsRead: Long = 0L
  var shuffleReadBytes: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var cpuNanos: Long = 0L
}

/** In-memory span recorder. The benchmark drives every layer from one
  * thread, so the open-span stack is a plain list. With tracing off,
  * `span` only runs its body: no clock reads, no local properties.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var sc: Option[SparkContext] = None
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def now(): Double = baseMillis + (System.nanoTime() - baseNanos) / 1e6

  /** Spark context whose jobs inherit the open span's id. */
  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[T](name: String, req: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val start = now()
      try body
      finally {
        spans += Span(id, name, parent, req, start, now())
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull))
      }
    }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Collects job and task events for the traced run. Job start/end and the
  * span property come from Spark's public listener events; task metrics are
  * summed per job through the stage → job map taken at job start.
  */
final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, span)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.recordsRead += m.inputMetrics.recordsRead
        j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.cpuNanos += m.executorCpuTime
      }
    }
  }

  /** Wait (bounded) until every started job has ended: listener events are
    * delivered asynchronously.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(_.end < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map(
        "id" -> j.id,
        "start" -> j.start,
        "end" -> j.end,
        "span" -> j.span,
        "tasks" -> j.tasks,
        "records_read" -> j.recordsRead,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes,
        "cpu_ns" -> j.cpuNanos
      )
    }
  }
}
