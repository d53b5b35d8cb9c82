package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Joins, Shedding, Upsert, Windows}

/** The user-facing surface of the engine: a keyed feature table
  * definition (reference: ralf `Table` / v2 `FeatureFrame`,
  * ralf/table.py:23-156, ralf/v2/api.py:100-138).
  *
  * A FeatureFrame wraps a Dataset lineage plus the feature-table
  * contract: a primary key and a per-key total order. Chaining
  * transformations extends the Catalyst plan — the DAG of ralf Tables IS
  * the logical plan here, and "deploying" it is just running an action.
  * Laziness (ralf's `lazy=True` compute-on-query operators,
  * ralf/operator.py:288-305) is Spark's default: nothing materializes
  * until a query evaluates the plan.
  */
final case class FeatureFrame(df: DataFrame, key: String, ord: String) {

  private def ordCol: Column = col(ord)

  /** `Table.map` (ralf/table.py:87-92): derive a child table by a
    * per-record transformation; 0..n output records per input.
    */
  def mapFeature(f: DataFrame => DataFrame): FeatureFrame =
    copy(df = f(df))

  /** Count-based tumbling window (SURVEY §2.1 #4). */
  def tumbling(valueCol: String, size: Int): FeatureFrame =
    FeatureFrame(Windows.tumbling(df, key, ordCol, col(valueCol), size), key, "window_id")

  /** Count-based sliding window (SURVEY §2.1 #5). */
  def sliding(valueCol: String, windowSize: Int, slideSize: Int): FeatureFrame =
    copy(df = Windows.sliding(df, key, ordCol, col(valueCol), windowSize, slideSize))

  /** Running per-key sum (v2 `Sum`). */
  def runningSum(valueCol: String): FeatureFrame =
    copy(df = Windows.runningSum(df, key, ordCol, col(valueCol)))

  /** Keyed left join against another feature table's latest state
    * (SURVEY §2.1 #3 steady-state semantics).
    */
  def leftJoinLatest(right: FeatureFrame, broadcastRight: Boolean = true): FeatureFrame =
    copy(df = Joins.enrichLatest(df, right.df, key, right.key, col(right.ord), broadcastRight))

  /** Exact consume-once pairing against a second stream (SURVEY §2.1 #3
    * buffer semantics).
    */
  def sequenceJoin(right: FeatureFrame): FeatureFrame =
    copy(df = Joins.sequenceJoin(df, right.df, key, ord, right.ord), key = "l_" + key, ord = "l_" + ord)

  /** Point-in-time enrichment (training-data variant of
    * [[leftJoinLatest]]): each record gets the right side's latest
    * `rightVal` at-or-before this frame's own ord — no future leakage.
    */
  def asOfJoin(right: FeatureFrame, rightVal: String, asOfCol: String = "asof_value"): FeatureFrame =
    copy(df = Joins.asOfJoin(
      df, right.df.withColumnRenamed(right.key, key), key, ord, right.ord, rightVal, asOfCol))

  /** Load-shedding policies (SURVEY §2.3). */
  def shedSample(idCol: String, modulus: Int, keepBelow: Int): FeatureFrame =
    copy(df = Shedding.sampleDeterministic(df, col(idCol), modulus, keepBelow))

  def shedMeanPolicy(valueCol: String, thresh: Double): FeatureFrame =
    copy(df = Shedding.meanPolicyFold(df, key, ord, valueCol, thresh))

  def shedCosinePolicy(vecCol: String, thresh: Double): FeatureFrame =
    copy(df = Shedding.cosinePolicyFold(df, key, ord, vecCol, thresh))

  /** The materialized feature table: latest record per key (SURVEY §2.1
    * #14). This is the state every ralf operator maintains implicitly.
    */
  def latest: DataFrame = Upsert.latest(df, key, ordCol)

  /** Point query (SURVEY §2.1 #13): current value for one key. */
  def pointQuery(keyValue: Any): DataFrame = Upsert.pointQuery(latest, key, keyValue)

  /** Bulk query (SURVEY §2.1 #13): all current values, key-ordered. */
  def bulkQuery: DataFrame = Upsert.bulkQuery(latest, key)

  /** Sink (SURVEY §2.1 #11): terminal write. */
  def sinkParquet(path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Print / debug sink (SURVEY §2.1 #12). */
  def print(n: Int = 20): Unit = df.show(n, truncate = false)
}

object FeatureFrame {
  /** Entry point mirroring `Ralf.create_source` (ralf/core.py:101-104). */
  def source(df: DataFrame, key: String, ord: String): FeatureFrame =
    FeatureFrame(df, key, ord)
}
