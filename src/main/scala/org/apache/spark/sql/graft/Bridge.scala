package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge into `private[sql]` surface: Column <-> Catalyst
  * Expression conversion for registering custom expressions from the
  * Column API (Spark 4 moved Column onto ColumnNode; classic
  * conversions are sql-private).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (classic Dataset.ofRows is
    * sql-private). Used to hand custom logical operators to Catalyst.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].logicalPlan

  /** Drop the carried-over origin statistics from a checkpointed
    * frame's `LogicalRDD` leaf (everything else — RDD, partitioning,
    * ordering — is preserved, so this costs nothing at runtime).
    *
    * Why: Spark 4 propagates the CHILD plan's estimated statistics
    * into the `LogicalRDD` a checkpoint produces (origin stats). In an
    * iterative operator whose rounds join the previous round's
    * checkpoint several times, the estimated `sizeInBytes` MULTIPLIES
    * each round — the BigInt's digit count grows geometrically across
    * rounds/levels, and by a few compounded levels the driver wedges
    * for minutes inside stats estimation (BigInteger Toom-Cook on
    * million-digit numbers — observed 6.6s → 50.7s → minutes per
    * round planning louvainMultiLevel level 3 on a 63-edge graph).
    * Resetting to the default leaf estimate bounds the growth to one
    * round; AQE re-plans with real runtime sizes anyway.
    *
    * AQE DEPENDENCY (r12 ADVICE): with originStats dropped the leaf
    * reports `spark.sql.defaultSizeInBytes` (Long.MaxValue), so the
    * STATIC planner will never broadcast a reset frame — tiny
    * per-round frames (kCore alive sets, HITS score tables) rely on
    * AQE's runtime re-planning to recover broadcast joins. AQE is on
    * by default in Spark 4 and never disabled in this repo; an
    * AQE-off deployment should re-point iterative loops at a bounded
    * constant estimate instead.
    */
  def resetStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.logicalPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        ofRows(ds.sparkSession,
          org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering, l.isStreaming, l.stream)(
            ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], None, None))
      case _ => df
    }
  }

  /** Block until the SparkContext's listener bus has delivered every
    * event posted so far (`listenerBus` is `private[spark]`). Query
    * execution listeners run on that bus, so after an action returns
    * and the bus drains, every event of that action has been seen —
    * no polling. Throws a TimeoutException if the bus is still busy
    * after 60 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  // NOTE (r14): a `claimHashLayout` helper lived here briefly —
  // re-declaring HashPartitioning + sort order on a checkpoint's
  // LogicalRDD leaf so iterative loops could skip the static side's
  // per-round exchange (the bucketed-table shape). It worked exactly
  // as designed at the plan level, but every measured application lost
  // to AQE's own runtime choices at both test scales (pinned widths
  // defeat partition coalescing; the extra laid-out materialization
  // pass and second cached copy outweigh the saved exchanges under
  // this host's memory budget) — see OPTIMIZATION_r14.md §5 for the
  // A/B numbers. Removed rather than left as dead code; re-derive from
  // the md if a genuinely shuffle-bound-loop deployment wants it.

  /** Build an independent session over an existing SparkContext with the
    * given SparkSessionExtensions builder applied — what
    * `spark.sql.extensions=<class>` does at cluster-session construction
    * (the classic constructor is sql-private). Lets tests exercise the
    * extensions injection path without tearing down the shared session.
    */
  def newSessionWithExtensions(
      base: org.apache.spark.sql.SparkSession,
      build: org.apache.spark.sql.SparkSessionExtensions => Unit
  ): org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    build(ext)
    // the primary constructor is Scala-private (only the two auxiliary
    // ones are package-visible) but bytecode-public — reflect
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext],
      classOf[Option[_]],
      classOf[Option[_]],
      classOf[org.apache.spark.sql.SparkSessionExtensions],
      classOf[scala.collection.immutable.Map[_, _]],
      classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(base.sparkContext, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
  }
}
