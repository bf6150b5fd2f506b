package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Where a job came from. The benchmark's own calls carry a span label, a
  * Spark local property that threads started inside the span inherit. The
  * API server's dispatcher thread inherits no local properties, so the
  * reader's jobs are recognised by their call site instead. */
object Origin {
  val Span = "graftbench.span"
  val ApiFrame = "graft.api.Api"
}

/** One finished job as the listener saw it. Times are epoch millis. */
final case class JobRec(
    id: Int, submitMs: Long, origin: String, span: Option[String],
    var taskMs: Long = 0L, var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L)

/** The benchmark's own listener: per-job task time, shuffle writes and
  * spill, with the job's origin and span label. It keeps raw
  * per-job rows; [[Spans]] attributes them after the bus has drained. */
final class Recorder extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Origin.Span)))
    val origin =
      if (e.stageInfos.exists(s => Option(s.details).exists(_.contains(Origin.ApiFrame)))) "api"
      else "main"
    jobs.put(e.jobId, JobRec(e.jobId, e.time, origin, span))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.taskMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Named windows around public calls. A span's counters are the jobs the
  * benchmark's own threads submitted inside it: by the span label the
  * calling thread carried, else by submission time. Jobs the API reader
  * caused (origin "api") are kept apart. Without a recorder (the untraced
  * run) spans only time their body. */
final class Spans(sc: SparkContext, rec: Option[Recorder]) {
  final case class Window(name: String, id: String, startMs: Long, endMs: Long,
      wallS: Double, traced: Boolean)
  private val windows = mutable.ArrayBuffer.empty[Window]
  private val seq = new AtomicLong()
  @volatile private var tracing = false

  /** Attach or detach the recorder. A traced run alternates its timed
    * iterations between the two, so the tracing overhead is measured in
    * the same process; only traced windows feed the layer counters. */
  def setTracing(on: Boolean): Unit = rec.foreach { r =>
    if (on && !tracing) sc.addSparkListener(r)
    if (!on && tracing) sc.removeSparkListener(r)
    tracing = on
  }

  def isTracing: Boolean = tracing

  def apply[T](name: String)(body: => T): T = {
    val id = s"$name#${seq.incrementAndGet()}"
    val traced = tracing
    val prev = sc.getLocalProperty(Origin.Span)
    if (traced) sc.setLocalProperty(Origin.Span, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) sc.setLocalProperty(Origin.Span, prev)
      windows.synchronized {
        windows += Window(name, id, startMs, System.currentTimeMillis(), wall, traced)
      }
    }
  }

  /** One row per span instance with its job counters. Call after the
    * listener bus has drained. */
  def rows(): Seq[Map[String, Any]] = {
    val ws = windows.synchronized(windows.filter(_.traced).toSeq)
    val jobs = rec.map(_.all).getOrElse(Seq.empty)
    val byLabel = jobs.filter(_.span.nonEmpty).groupBy(_.span.get)
    ws.map { w =>
      val labelled = byLabel.getOrElse(w.id, Seq.empty)
      val unlabelled = jobs.filter(j => j.span.isEmpty && j.origin == "main" &&
        j.submitMs >= w.startMs && j.submitMs <= w.endMs)
      val js = labelled ++ unlabelled
      Map(
        "span" -> w.name,
        "wall_s" -> w.wallS,
        "task_s" -> js.map(_.taskMs).sum / 1000.0,
        "jobs" -> js.size,
        "shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> js.map(_.spillBytes).sum / 1e6)
    }
  }

  /** Totals of the jobs the API reader caused. */
  def apiTotals(): Map[String, Any] = {
    val js = rec.map(_.all).getOrElse(Seq.empty).filter(_.origin == "api")
    Map("jobs" -> js.size, "task_s" -> js.map(_.taskMs).sum / 1000.0)
  }

  /** Whole-run shuffle and spill, all origins. */
  def runTotals(): Map[String, Any] = {
    val js = rec.map(_.all).getOrElse(Seq.empty)
    Map(
      "jobs" -> js.size,
      "shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
      "spill_mb" -> js.map(_.spillBytes).sum / 1e6)
  }
}
