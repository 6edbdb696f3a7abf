package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-span counters summed from the tasks of the jobs a span started. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var input = 0L
  /** input bytes of stages that scan files (the rest is cached-block reads) */
  var sourceInput = 0L
  var output = 0L
  var spill = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    input += o.input; sourceInput += o.sourceInput; output += o.output; spill += o.spill
  }
}

/** A timed call into one layer; `parent` is -1 for a root span. Times are
  * wall-clock milliseconds, the clock Spark stamps its listener events with.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long)

final case class JobRecord(id: Int, span: Int, startMs: Long, endMs: Long)

/** Benchmark-owned listener: the harness wraps each call it makes in
  * [[span]], which tags the driver thread's jobs through a local property;
  * the listener attributes jobs, and through their stages the tasks, to
  * the span that was open when they were submitted.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.SpanKey

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val scanStages = mutable.HashSet.empty[Int]
  private val perSpan = mutable.HashMap.empty[Int, Counts]

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.currentTimeMillis(), -1L)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  private def counts(span: Int): Counts = perSpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobs(e.jobId) = JobRecord(e.jobId, s, e.time, -1L)
    counts(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = counts(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.input += m.inputMetrics.bytesRead
      if (scanStages(e.stageId)) c.sourceInput += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
    }
  }

  /** Wait until every event posted so far reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  def clear(): Unit = synchronized {
    spans.clear(); jobs.clear(); stageSpan.clear(); scanStages.clear(); perSpan.clear()
  }

  def snapshot(): Tracer.Snapshot = synchronized {
    Tracer.Snapshot(spans.toVector, jobs.values.toVector,
      perSpan.map { case (k, v) => k -> { val c = new Counts; c.add(v); c } }.toMap)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Snapshot(spans: Vector[Span], jobs: Vector[JobRecord], counts: Map[Int, Counts]) {

    /** Jobs that ran outside every span the harness opened. */
    def unattributedJobs: Vector[JobRecord] = jobs.filter(j => j.span < 0 || j.span >= spans.size)

    /** Summed counters of the spans named `name`. */
    def countsOf(name: String): Counts = {
      val c = new Counts
      spans.filter(_.name == name).foreach(s => counts.get(s.id).foreach(c.add))
      c
    }

    def total: Counts = {
      val c = new Counts
      counts.values.foreach(c.add)
      c
    }

    /** Summed duration minus the part covered by child spans. */
    def selfSeconds(name: String): Double =
      spans.filter(_.name == name).map { s =>
        val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
        (s.endMs - s.startMs - unionMs(children)) / 1e3
      }.sum

    /** Wall time of [startMs, endMs) not covered by any job. */
    def driverGapSeconds(startMs: Long, endMs: Long): Double = {
      val intervals = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
        .filter { case (a, b) => b > a }
      (endMs - startMs - unionMs(intervals)) / 1e3
    }

    def toJson: String = {
      val sb = new StringBuilder("{\"spans\":[")
      sb.append(spans.map { s =>
        val c = counts.getOrElse(s.id, new Counts)
        s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.startMs},""" +
          s""""end_ms":${s.endMs},"jobs":${c.jobs},"tasks":${c.tasks},"task_run_ms":${c.runMs},""" +
          s""""gc_ms":${c.gcMs},"shuffle_write_bytes":${c.shuffleWrite},"shuffle_read_bytes":${c.shuffleRead},""" +
          s""""input_bytes":${c.input},"output_bytes":${c.output},"spill_bytes":${c.spill}}"""
      }.mkString(","))
      sb.append("],\"jobs\":[")
      sb.append(jobs.map(j =>
        s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs}}""").mkString(","))
      sb.append("]}")
      sb.toString
    }
  }

  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((a, b) <- intervals.sortBy(_._1)) {
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    covered
  }
}
