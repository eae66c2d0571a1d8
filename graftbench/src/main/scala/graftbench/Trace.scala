package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startNs: Long, endNs: Long)

/**
 * In-memory span recorder. Spans are recorded around the benchmark's own
 * calls into each layer (never inside the library), kept in memory and
 * written as JSON when the run ends. Disabled, it still times the block but
 * keeps nothing, so untraced runs pay one nanoTime pair per span.
 */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, key: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      if (enabled) spans.synchronized { spans += Span(id, parent, name, key, t0, t1) }
    }
  }

  /** A span observed after the fact (a batch or epoch reported by Spark). */
  def record(name: String, key: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.synchronized {
      spans += Span(ids.incrementAndGet(), 0L, name, key, startNs, endNs)
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        iv.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = all.map { s =>
      Stats.jsonObj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Stats.jsonStr(s.name), "key" -> Stats.jsonStr(s.key),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}

/** Cumulative Spark execution counters, read through a SparkListener. */
final class SparkCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  private val running = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    running(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    running.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }

  /** Wall time in [fromMs, toMs) with no job running, in seconds. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = (intervals ++ running.values.map(t => (t, toMs)))
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) busy += b - from
      end = math.max(end, b)
    }
    math.max(0L, toMs - fromMs - busy) / 1e3
  }

  def snapshot: Counts = synchronized {
    Counts(jobs, stages, tasks, taskMs, shuffleReadBytes, shuffleWriteBytes)
  }
}

final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes)
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
}

/** Per-batch (or per-epoch) progress of every streaming query, with the
  * engine's own `durationMs` breakdown. */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  import ProgressLog.Batch
  private val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { batches += Batch(p.name, p.batchId, p.numInputRows, d) }
    val endNs = System.nanoTime()
    val trig = d.getOrElse("triggerExecution", 0L)
    tracer.record("stream.batch", s"${p.name}#${p.batchId}", endNs - trig * 1000000L, endNs)
  }

  def all: Seq[Batch] = synchronized(batches.toVector)
}

object ProgressLog {
  final case class Batch(query: String, batchId: Long, rows: Long, durations: Map[String, Long])
}
