package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `start`/`end` are nanoseconds since the tracer began.
  * Spans of one benchmark run share the tracer's run id. */
final case class Span(id: Long, parent: Long, name: String, table: String,
                      start: Long, end: Long)

/** In-memory span recorder. Each span's id is also put into the thread's
  * Spark local properties, so jobs launched inside the span can be
  * attached to it by [[SparkCounters]]. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def nextId(): Long = ids.incrementAndGet()
  def currentId: Long = current.get
  def now: Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Time `body` as a span; its parent is the innermost open span on this
    * thread unless `parent` names one (a pool thread has none open). */
  def span[T](name: String, table: String = "", parent: Long = -1L)(body: => T): T = {
    val id = nextId()
    val prev: Long = current.get
    current.set(id)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now
    try body
    finally {
      add(Span(id, if (parent >= 0) parent else prev, name, table, t0, now))
      current.set(prev)
      sc.setLocalProperty(Tracer.SpanKey, if (prev == 0L) null else prev.toString)
    }
  }

  def writeJsonl(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "table" -> s.table, "start_ns" -> s.start, "end_ns" -> s.end)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark-side counters for the traced run: job and stage spans attached to
  * the tracer's spans, task totals from every finished task, and the
  * planning phases of every query execution. */
final class SparkCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  import SparkCounters.Open
  private val jobs = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageRun = mutable.Map.empty[Int, Long]
  val totals: mutable.Map[String, Double] = mutable.LinkedHashMap(
    "spark.jobs" -> 0.0, "spark.stages" -> 0.0, "spark.tasks" -> 0.0,
    "spark.failed_tasks" -> 0.0, "spark.plan_ms" -> 0.0,
    "spark.executor_run_s" -> 0.0, "spark.executor_cpu_s" -> 0.0, "spark.gc_s" -> 0.0,
    "spark.input_mb" -> 0.0, "spark.records_read" -> 0.0, "spark.records_written" -> 0.0,
    "spark.shuffle_write_mb" -> 0.0, "spark.shuffle_read_mb" -> 0.0, "spark.spill_mb" -> 0.0)

  private def bump(k: String, v: Double): Unit = totals(k) = totals(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val id = tracer.nextId()
    jobs(e.jobId) = Open(id, parent, tracer.fromEpochMs(e.time))
    e.stageIds.foreach(s => stageJob(s) = id)
    bump("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { o =>
      tracer.add(Span(o.id, o.parent, "spark.job", "", o.start, tracer.fromEpochMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    bump("spark.stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.add(Span(tracer.nextId(), stageJob.getOrElse(i.stageId, 0L), "spark.stage", "",
        tracer.fromEpochMs(s), tracer.fromEpochMs(c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    bump("spark.tasks", 1)
    if (e.reason != Success) bump("spark.failed_tasks", 1)
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      stageRun(e.stageId) = stageRun.getOrElse(e.stageId, 0L) + m.executorRunTime
      bump("spark.executor_run_s", m.executorRunTime / 1e3)
      bump("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      bump("spark.gc_s", m.jvmGCTime / 1e3)
      bump("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
      bump("spark.records_read", m.inputMetrics.recordsRead.toDouble)
      bump("spark.records_written", m.outputMetrics.recordsWritten.toDouble)
      bump("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      bump("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      bump("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { bump("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Longest over median task time in the stage with the most executor run time. */
  def stageSkew: Double = synchronized {
    if (stageRun.isEmpty) 0.0
    else {
      val ts = taskTimes(stageRun.maxBy(_._2)._1).sorted
      val median = ts(ts.size / 2).toDouble
      if (median <= 0) 0.0 else ts.last / median
    }
  }
}

object SparkCounters {
  private final case class Open(id: Long, parent: Long, start: Long)
}

/** Minimal JSON writer for flat objects of numbers and strings. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val value = v match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case xs: Iterable[_] => xs.mkString("[", ", ", "]")
      case other => other.toString
    }
    "\"" + k + "\": " + value
  }.mkString("{", ", ", "}")
}
