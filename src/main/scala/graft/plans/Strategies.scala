package graft.plans

import org.apache.spark.sql.SparkSession
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

  /** Add every strategy missing from the session's extra strategies
    * (idempotent). Locked: concurrent installs must not drop one
    * another's append.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val have = spark.experimental.extraStrategies
    val missing = all.filterNot(have.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = have ++ missing
  }
}
