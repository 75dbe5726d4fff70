package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._

/** One Spark job as seen by [[JobListener]]; times are epoch milliseconds. */
final class JobRecord(val id: Int, val start: Long) {
  var end: Long = -1L
  var stages: Int = 0
  var tasks: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var peakExecMemBytes: Long = 0L
}

/** Counts jobs, stages, tasks, shuffle writes, spills and peak execution
  * memory per job. Registered only on traced runs. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  private val byId = mutable.Map.empty[Int, JobRecord]
  private val stageToJob = mutable.Map.empty[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRecord(e.jobId, e.time)
    j.stages = e.stageIds.size
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecMemBytes = math.max(j.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }
}

/** Aggregate Spark activity inside one wall-clock interval. */
final case class Activity(
    seconds: Double,
    jobs: Long,
    tasks: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    peakExecMemBytes: Long,
    driverGapS: Double
)

/** A span around one call into a layer of the program. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around the public layer calls it makes,
  * plus the job listener's counts. Both stay in memory and are written as
  * one JSON file when the run ends. With `enabled = false` a span is just
  * the call. */
final class Tracer(val enabled: Boolean, val runId: String) {
  val listener = new JobListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var sc: Option[SparkContext] = None
  private var active = enabled
  // epoch nanoseconds from a monotonic clock, so spans line up with the
  // listener's epoch-millisecond job times
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  def now(): Long = epochNs0 + (System.nanoTime() - mono0)

  /** Attach the listener to a (new) session's context. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc.foreach(_.removeSparkListener(listener))
    if (active) context.addSparkListener(listener)
    sc = Some(context)
  }

  /** Run `f` with spans and the listener off. */
  def suspended[A](f: => A): A =
    if (!active) f
    else {
      active = false
      sc.foreach(_.removeSparkListener(listener))
      try f
      finally {
        sc.foreach(_.addSparkListener(listener))
        active = true
      }
    }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      val start = now()
      spans += Span(id, parent, name, start, start)
      open.push(id)
      try f
      finally {
        open.pop()
        spans(id) = spans(id).copy(endNs = now())
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans called `name` whose direct parent is called `parent`. */
  def within(parent: String, name: String): Seq[Span] =
    spans.filter(s => s.name == name && s.parent >= 0 && spans(s.parent).name == parent).toSeq

  /** Spark activity inside [startNs, endNs]: jobs that started in the
    * interval, and the part of the interval no job was running (the driver
    * gap). */
  def activity(startNs: Long, endNs: Long): Activity = {
    sc.foreach(ListenerBusBridge.drain)
    val a = startNs / 1000000L
    val b = endNs / 1000000L
    val js = listener.synchronized(listener.jobs.filter(j => j.start >= a && j.start <= b).toSeq)
    val busy = js
      .map(j => (j.start, if (j.end < 0) b else math.min(j.end, b)))
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        val s2 = math.max(s, reach)
        if (e > s2) (acc + (e - s2), e) else (acc, reach)
      }
      ._1
    Activity(
      seconds = (endNs - startNs) / 1e9,
      jobs = js.size.toLong,
      tasks = js.map(_.tasks).sum,
      shuffleWriteBytes = js.map(_.shuffleWriteBytes).sum,
      spillBytes = js.map(_.spillBytes).sum,
      peakExecMemBytes = (0L +: js.map(_.peakExecMemBytes)).max,
      driverGapS = math.max(0L, (b - a) - busy) / 1000.0
    )
  }

  def activity(s: Span): Activity = activity(s.startNs, s.endNs)

  /** Sum of the activity of several spans (peak memory is the max). */
  def activity(ss: Seq[Span]): Activity =
    ss.map(activity).foldLeft(Activity(0, 0, 0, 0, 0, 0, 0)) { (x, y) =>
      Activity(
        x.seconds + y.seconds,
        x.jobs + y.jobs,
        x.tasks + y.tasks,
        x.shuffleWriteBytes + y.shuffleWriteBytes,
        x.spillBytes + y.spillBytes,
        math.max(x.peakExecMemBytes, y.peakExecMemBytes),
        x.driverGapS + y.driverGapS)
    }

  def toJson(extra: Seq[(String, String)]): String = {
    val ss = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Common.jsonString(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":${Common.jsonString(runId)}}"""
    }
    val js = listener.synchronized(listener.jobs.toSeq).map { j =>
      s"""{"job":${j.id},"start_ms":${j.start},"end_ms":${j.end},"stages":${j.stages},"tasks":${j.tasks},"shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes},"peak_exec_mem_bytes":${j.peakExecMemBytes}}"""
    }
    (extra.map { case (k, v) => s"${Common.jsonString(k)}:$v" } ++ Seq(
      s""""spans":${ss.mkString("[", ",", "]")}""",
      s""""jobs":${js.mkString("[", ",", "]")}"""
    )).mkString("{", ",", "}")
  }
}

object Jvm {

  /** Cumulative collector time of this JVM, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}
