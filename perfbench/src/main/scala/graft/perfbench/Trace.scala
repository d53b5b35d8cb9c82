package graft.perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for a root); spans of one operation (a query
  * of a pass, a micro-batch, a point request) share `run`.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, run: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store. Recording is switched on per operation
  * (`on`), so one traced run can interleave traced and untraced
  * operations and compare them; spans are written out once, at exit
  * (run.py keeps the latest run's file as perfbench/.work/last-spans.jsonl).
  * A span's self time is its duration minus the union of its children's
  * intervals (children share its `run` and name it as `parent`).
  */
final class Tracer {
  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }

  def span[T](name: String, run: String)(body: => T): T = {
    if (!on) body
    else {
      val parent = current.get()
      val id = synchronized { nextId += 1; nextId }
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        synchronized { spans += Span(id, name, t0, t1, parent, run) }
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Harness.Json.writeValueAsString(Map(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "run" -> s.run)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-tag Spark totals: job spans and the task metrics of completed
  * stages. A job's tag is the `perfbench.tag` local property of the
  * thread that submitted it; untagged jobs are ignored.
  */
final class JobStats {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
}

final class SparkCounts extends SparkListener {
  val TagKey = "perfbench.tag"
  private val byTag = new ConcurrentHashMap[String, JobStats]()
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def tagOf(p: Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(TagKey)))

  private def stats(tag: String): JobStats = byTag.computeIfAbsent(tag, _ => new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties).foreach { t =>
    jobTag.put(e.jobId, (t, e.time))
    e.stageIds.foreach(s => stageTag.put(s, t))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobTag.remove(e.jobId)).foreach {
    case (t, start) => val s = stats(t); s.synchronized { s.jobs += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val s = stats(t)
      val m = e.stageInfo.taskMetrics
      s.synchronized {
        s.stages += 1
        s.tasks += e.stageInfo.numTasks
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
    }

  def get(tag: String): Option[JobStats] = Option(byTag.get(tag))
}

/** Streaming progress, keyed by micro-batch id. */
final class StreamCounts extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[Long, StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
