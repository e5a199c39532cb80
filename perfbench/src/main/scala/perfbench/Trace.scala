package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters from a SparkListener the benchmark registers in the
  * traced run. Every callback runs on the listener-bus thread; readers
  * call [[org.apache.spark.ListenerDrain.drain]] first. */
final class EngineListener extends SparkListener {
  import EngineListener._
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]

  /** Jobs as (submit ms, end ms), stages by submit ms, tasks. */
  def snapshot: (Vector[(Long, Long)], Vector[Long], Vector[Task]) =
    synchronized((jobs.toVector, stages.toVector, tasks.toVector))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobStart(e.jobId) = e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, m.executorCpuTime,
      m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

object EngineListener {
  final case class Task(launchMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Micro-batch progress of every streaming query in the JVM. Registered
  * through `spark.sql.streaming.streamingQueryListeners`, so it also
  * hears queries started from sessions the program derives with
  * `newSession()`, which have listener buses of their own. */
class BatchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    BatchLog.started(System.nanoTime(), System.currentTimeMillis())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      BatchLog.progress(e.progress.durationMs.asScala.map {
        case (k, v) => k -> v.longValue }.toMap)
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object BatchLog {
  private var starts = Vector.empty[(Long, Long)]
  private var batches = Vector.empty[Map[String, Long]]

  def started(ns: Long, ms: Long): Unit = synchronized(starts :+= ((ns, ms)))
  def progress(d: Map[String, Long]): Unit = synchronized(batches :+= d)

  def peek: (Vector[(Long, Long)], Vector[Map[String, Long]]) =
    synchronized((starts, batches))

  /** Query starts as (nanoTime, epoch ms) and per-batch durationMs maps
    * recorded since the last call; clears both. */
  def take(): (Vector[(Long, Long)], Vector[Map[String, Long]]) = synchronized {
    val r = (starts, batches)
    starts = Vector.empty; batches = Vector.empty
    r
  }
}

/** Spans kept in memory: name, start, end and parent. The benchmark opens
  * them around its calls into each layer; the program is not touched. */
final class Tracer {
  import Tracer._
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = open.headOption
    open = id :: open
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      open = open.tail
      done += Span(id, name, parent, ms, System.currentTimeMillis(),
        (System.nanoTime() - ns) / 1e9)
    }
  }

  /** Records a span whose bounds were observed elsewhere (a streaming
    * query's start comes from its listener). */
  def add(name: String, parent: Option[Int], startMs: Long, endMs: Long,
          seconds: Double): Unit = {
    done += Span(next, name, parent, startMs, endMs, seconds); next += 1
  }

  def currentId: Option[Int] = open.headOption
  def spans: Vector[Span] = done.toVector
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Option[Int],
                        startMs: Long, endMs: Long, seconds: Double)

  /** Engine counters of one span, its child spans included. Jobs, stages
    * and tasks belong to the span they start in; `outside_jobs_s` is the
    * span's wall time during which no job ran. */
  def counters(s: Span, jobs: Vector[(Long, Long)], stages: Vector[Long],
               tasks: Vector[EngineListener.Task]): Map[String, Double] = {
    val own = (t: Long) => s.startMs <= t && t < s.endMs
    val ts = tasks.filter(t => own(t.launchMs))
    val covered = jobs
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sorted
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
    Map(
      "jobs" -> jobs.count(j => own(j._1)).toDouble,
      "stages" -> stages.count(own).toDouble,
      "tasks" -> ts.size.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "outside_jobs_s" -> math.max(0.0, s.seconds - covered / 1e3))
  }
}
