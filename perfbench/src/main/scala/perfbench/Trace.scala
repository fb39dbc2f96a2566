package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.sink.BatchSink

/** Epoch nanoseconds at `nanoTime` resolution, so the harness's spans
  * line up with the epoch-millisecond times of Spark's listener events.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, attrs: Map[String, String])

/** In-memory span recorder. While `on`, `span` times its body and tags
  * every Spark job the body submits from this thread with the span id
  * (a `SparkContext` local property), which is how a job is attributed
  * to the span that caused it. While off, it only runs the body.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Int = ids.incrementAndGet()

  def span[A](name: String, parent: Int = 0,
      attrs: Map[String, String] = Map.empty)(body: Int => A): A =
    if (!on) body(0)
    else {
      val id = nextId()
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.now()
      try body(id)
      finally {
        spans.add(Span(id, name, t0, Clock.now(), parent, attrs))
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** A span observed rather than run here (a trigger from progress). */
  def record(name: String, start: Long, end: Long, parent: Int = 0,
      attrs: Map[String, String] = Map.empty): Int =
    if (!on) 0
    else {
      val id = nextId()
      spans.add(Span(id, name, start, end, parent, attrs))
      id
    }
}

object Tracer { val SpanKey = "perfbench.span" }

/** Task metrics summed over the tasks of one job's stages. */
final class TaskTotals {
  val tasks, runMs, cpuNs, gcMs, schedDelayMs, shuffleRead, shuffleWrite,
    spill, inputBytes, outputBytes, stages = new AtomicLong(0L)
  def toMap: Map[String, Long] = Map(
    "tasks" -> tasks.get, "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get,
    "gc_ms" -> gcMs.get, "sched_delay_ms" -> schedDelayMs.get,
    "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "stages" -> stages.get)
}

final case class JobRecord(id: Int, start: Long, tag: Option[Int],
    totals: TaskTotals, @volatile var end: Long = 0L)

/** Records every job with the span tag of its submitting thread, and
  * the task metrics of its stages. Registered only for traced units.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption)
    val rec = JobRecord(e.jobId, e.time * 1000000L, tag, new TaskTotals)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId))
      .foreach(_.totals.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { rec =>
      val t = rec.totals
      val m = e.taskMetrics
      t.tasks.incrementAndGet()
      if (m != null) {
        t.runMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        t.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        // The Spark UI's scheduler delay: task wall not spent running,
        // deserializing, serializing the result or fetching it.
        val info = e.taskInfo
        t.schedDelayMs.addAndGet(math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime))
      }
    }

  def records: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map {
    j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
      "tag" -> j.tag.getOrElse(0), "totals" -> j.totals.toMap)
  }
}

/** The sink as the program sees it, timed from outside: every call is
  * a `sink.writeAll` (or `sink.write`) span when tracing, and its wall
  * time and call count are kept either way.
  */
final class TimedSink(inner: BatchSink, tracer: Tracer) extends BatchSink {
  val calls = new AtomicLong(0L)
  val nanos = new AtomicLong(0L)

  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(_ => body)
    finally { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
  }

  def write(fileName: String, raw: DataFrame, agg: DataFrame): Boolean =
    timed("sink.write")(inner.write(fileName, raw, agg))

  override def writeAll(fileNames: Seq[String], raw: DataFrame,
      agg: DataFrame): Set[String] =
    timed("sink.writeAll")(inner.writeAll(fileNames, raw, agg))
}
