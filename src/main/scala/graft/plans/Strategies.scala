package graft.plans

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy

/** graft's planner strategies: the custom logical nodes' execs
  * ([[TopKStrategy]], [[graft.state.BucketMergeStrategy]]).
  * `GraftExtensions` injects them at session build; the operators that
  * plan such a node call [[install]] on the session they plan in, which
  * adds them to a session built without the extensions (the
  * `SqlStrategy.setup` shape of SNIPPETS [2]).
  */
object Strategies {

  val all: Seq[SparkStrategy] = Seq(TopKStrategy, graft.state.BucketMergeStrategy)

  /** Add every strategy missing from the session's planner to its extra
    * strategies (idempotent). The planner's list holds the extra
    * strategies and the ones `GraftExtensions` injected, so a session
    * built with the extensions gets none twice. Locked: concurrent
    * installs must not drop one another's append.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val planned = spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies
    val missing = all.filterNot(planned.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
  }
}
