package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A span: one layer call (or the whole execution, `pipeline`) of one
  * pipeline execution. Times are wall-clock milliseconds (the clock Spark's
  * listener events use) plus nanoTime for durations.
  */
final class Span(val id: Int, val exec: Int, val name: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  var rows: Long = -1L
  def durS: Double = (endNs - startNs) / 1e9
}

/** Per-span Spark counters, filled by [[SpanListener]]. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobIntervals: mutable.Map[Int, (Long, Long)] = mutable.Map.empty
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
}

/** Tags every job with the span active on the submitting thread (the
  * `graftbench.span` local property) and counts jobs, tasks, executor CPU,
  * shuffle write and spill per span.
  */
final class SpanListener extends SparkListener {
  val stats: mutable.Map[Int, SpanStats] = mutable.Map.empty
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]

  private def st(span: Int) = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => stageSpan(s) = span)
    val s = st(span)
    s.jobs += 1
    s.jobIntervals(e.jobId) = (e.time, Long.MaxValue)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { span =>
      val s = st(span)
      s.jobIntervals.get(e.jobId).foreach { case (a, _) => s.jobIntervals(e.jobId) = (a, e.time) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = st(stageSpan.getOrElse(e.stageId, -1))
    s.tasks += 1
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }
}

object Tracer {
  val Prop = "graftbench.span"
  val Layers: Seq[String] =
    Seq("io", "normalization", "blocking", "matching", "clustering", "fusion", "dedup", "text")
}

/** Records a span around each layer call. Disabled, it only runs the
  * bodies. Enabled, each layer span materializes its output (persist +
  * count) so the layer's work happens inside its span, and the Spark jobs
  * it runs are attributed to it through the job's local property.
  */
final class Tracer(spark: SparkSession) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack.empty[Span]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  var exec = 0
  var on = false

  private def open(name: String): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, exec, name, parent, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    spark.sparkContext.setLocalProperty(Tracer.Prop, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
    stack.pop()
    spark.sparkContext.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
  }

  /** A span around `body` that yields no frame (reads counted by the caller, writes). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** A layer call returning a frame; traced, the frame is materialized
    * inside the span and its row count recorded.
    */
  def layer(name: String)(body: => DataFrame): DataFrame =
    if (!on) body
    else {
      val s = open(name)
      try {
        val df = body.persist(StorageLevel.MEMORY_AND_DISK)
        held += df
        s.rows = df.count()
        df
      } finally close(s)
    }

  /** Releases the frames materialized by traced spans. */
  def release(): Unit = { held.foreach(_.unpersist(false)); held.clear() }
}
