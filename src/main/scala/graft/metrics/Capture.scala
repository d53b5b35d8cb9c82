package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Deterministic capture of what a block of driver code ran: every
  * successful `QueryExecution` (the eager loop stages an operator runs
  * behind `localCheckpoint` and per-round collects included, which the
  * returned frame's own plan never shows) and the number of Spark jobs
  * it submitted.
  *
  * Listener events post asynchronously, so the capture drains the
  * listener bus ([[org.apache.spark.sql.graft.Bridge.drainListenerBus]])
  * before it reads either: no polling, no sleeps. Jobs are counted by a
  * job group set on the calling thread for the body (it replaces any
  * group that thread had set); jobs submitted from other threads are not
  * counted. The same jobs are also counted per operator round: by the
  * [[graft.core.Rounds.Label]] property each job starts with, read off an
  * `onJobStart` listener drained like the executions.
  */
object Capture {

  /** The body's value, the successful executions it ran in order, its
    * Spark job count, and its jobs per round label in the order the
    * rounds started (jobs outside any round are in `jobs` only).
    */
  final case class Result[A](
      value: A,
      executions: Seq[QueryExecution],
      jobs: Int,
      roundJobs: SeqMap[String, Int]) {

    /** The executed physical plan of each captured execution. */
    def plans: Seq[String] = executions.map(_.executedPlan.toString)
  }

  private val seq = new AtomicLong()

  def run[A](spark: SparkSession)(body: => A): Result[A] = {
    val sc = spark.sparkContext
    val group = s"graft-capture-${seq.incrementAndGet()}"
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val rounds = new ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          Option(e.properties.getProperty(graft.core.Rounds.Label)).foreach(rounds.add)
    }
    spark.listenerManager.register(listener)
    sc.addSparkListener(jobs)
    sc.setJobGroup(group, group)
    val value =
      try body
      finally {
        sc.clearJobGroup()
        try org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
        finally {
          spark.listenerManager.unregister(listener)
          sc.removeSparkListener(jobs)
        }
      }
    val labels = rounds.asScala.toList
    Result(value, seen.asScala.toList, sc.statusTracker.getJobIdsForGroup(group).length,
      SeqMap.from(labels.distinct.map(r => r -> labels.count(_ == r))))
  }
}
