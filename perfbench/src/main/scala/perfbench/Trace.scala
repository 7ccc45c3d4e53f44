package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: name, wall interval, the span that caused it, and
  * whether the call returned normally. Times are epoch nanoseconds.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      var endNs: Long = -1L, var ok: Boolean = false)

/** Spans around the benchmark's calls into each layer, kept in memory.
  *
  * With tracing on, the id of the innermost open span rides the
  * SparkContext local property [[Tracer.Prop]], so every job a call starts
  * carries it (Spark copies local properties to the threads it starts for
  * broadcasts and subqueries) and [[LayerListener]] can attribute the job
  * to that call. With tracing off, `span` only runs the body.
  */
final class Tracer(sc: SparkContext, val available: Boolean, val runId: String) {
  /** Off for an untraced round of a traced run (the overhead baseline). */
  var enabled: Boolean = available
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size + 1, open.headOption.fold(0)(_.id), name, now)
      all += s
      open = s :: open
      val before = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try { val r = body; s.ok = true; r }
      finally {
        s.endNs = now
        open = open.tail
        sc.setLocalProperty(Tracer.Prop, before)
      }
    }

  def spans: Seq[Span] = all.toSeq
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Per-span totals of the Spark work a call caused. */
final class LayerCounters {
  var jobs = 0
  var tasks = 0
  var executorMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** (start ms, end ms) of each job, for the wall no job covered. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, tasks and task metrics to the span whose id the job's
  * local properties carry. Events are handled on the listener bus thread;
  * read the totals only after `SparkContext.stop()`, which drains the bus.
  */
final class LayerListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, LayerCounters]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanOf(props: Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toInt)

  /** Jobs outside any span (untraced rounds, row counting) are left out. */
  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
    jobSpan(e.jobId) = (s, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
    bySpan.getOrElseUpdate(s, new LayerCounters).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      bySpan(s).jobIntervals += ((start, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val c = bySpan.getOrElseUpdate(s, new LayerCounters)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

object LayerListener {
  /** Wall of [startMs, endMs] that no job interval covers, in seconds. */
  def uncoveredS(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = startMs
    jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, endMs - startMs - covered) / 1000.0
  }
}
