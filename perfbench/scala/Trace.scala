package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One span: a timed call from the benchmark into one layer. Jobs that
  * start while it is the innermost open span carry its id in their local
  * properties, so the listener can attribute them exactly. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startMs: Long, endMs: Long, seconds: Double)

/** What the listener rolled up for one span's own jobs. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var writeTasks = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's only SparkListener: jobs, tasks, executor run and CPU
  * time, input, shuffle-write and output bytes per span. */
final class SpanListener extends SparkListener {
  private val stats = mutable.HashMap.empty[Long, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]

  def statsOf(span: Long): SpanStats = synchronized(stats.getOrElse(span, new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val id = s.toLong
      stats.getOrElseUpdate(id, new SpanStats).jobs += 1
      jobStart(e.jobId) = (id, e.time)
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0) => stats(id).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(id)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      if (m.outputMetrics.recordsWritten > 0) s.writeTasks += 1
    }
  }
}

/** Keeps spans in memory; [[finish]] waits for the listener to catch up. */
final class Tracer(spark: SparkSession, val runId: String) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0L
  private var nextId = 1L

  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val parent = current
    val previous = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    current = id
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, runId, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
      spans += s
      (out, s)
    } finally {
      sc.setLocalProperty(Tracer.SpanKey, previous)
      current = parent
    }
  }

  def all: Seq[Span] = spans.toSeq

  def finish(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Span time with no job of the span running. */
  def driverGapSeconds(s: Span): Double = {
    val ivs = listener.statsOf(s.id).jobIntervals
      .map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }.filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - a.max(end); end = b }
    }
    (s.seconds - covered / 1e3).max(0.0)
  }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val st = listener.statsOf(s.id)
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},"jobs":${st.jobs},""" +
      s""""tasks":${st.tasks},"executor_run_ms":${st.runMs},"executor_cpu_ns":${st.cpuNs},""" +
      s""""input_bytes":${st.inputBytes},"shuffle_write_bytes":${st.shuffleWriteBytes},""" +
      s""""output_bytes":${st.outputBytes},"write_tasks":${st.writeTasks}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
