package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.state.CheckpointFiles

/** The ordered per-key fold every ralf operator is (the eager push loop,
  * ralf/operator.py:189-259: each record folds into its key's state and
  * may emit), with one driver per engine mode. Operators supply a
  * `step(state, record, emit) => state`; the drivers own the grouping,
  * the in-key order and the state handoff.
  */
private[graft] object KeyedFold {

  /** Live driver: ONE `groupByKey(key).flatMapGroupsWithState(mode,
    * NoTimeout)`. Each micro-batch reads the key's stored state (or
    * `init(key)` for a new key), applies `order` to the batch's records
    * (None keeps arrival order), folds `step` over them, stores the final
    * state, and emits whatever the steps emitted followed by
    * `done(key, state)` — the once-per-batch emit of operators whose
    * output IS their state. The stored state type `S` is the checkpoint
    * format; a new one is a public case class with array fields (the
    * state encoder's generated code constructs and reads it).
    *
    * Building the stream points `ds`'s session at
    * [[graft.state.CheckpointFiles]] for the checkpoint it will keep,
    * unless the session already names a checkpoint file manager
    * ([[graft.state.CheckpointFiles.use]]).
    */
  def stream[K: Encoder, U, S: Encoder, O: Encoder](
      ds: Dataset[U],
      mode: OutputMode,
      order: Option[Ordering[U]],
      key: U => K,
      init: K => S
  )(
      step: (K, S, U, O => Unit) => S,
      done: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty
  ): Dataset[O] = {
    CheckpointFiles.use(ds.sparkSession)
    ds.groupByKey(key).flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout) {
      (k: K, batch: Iterator[U], state: GroupState[S]) =>
        val out = ArrayBuffer.empty[O]
        val emit: O => Unit = out += _
        var st = state.getOption.getOrElse(init(k))
        order.fold(batch)(o => batch.toSeq.sorted(o).iterator)
          .foreach(u => st = step(k, st, u, emit))
        state.update(st)
        out ++= done(k, st)
        out.iterator
    }
  }

  /** Batch driver: the sort-fold — `repartition(key)`, then
    * `sortWithinPartitions(key, ord)`, then ONE `mapPartitions` pass that
    * restarts the state at `init` whenever the key changes. One shuffle,
    * one state in flight per task, no per-key materialization: the
    * scalable shape of any ordered per-key fold. `init` is shared by
    * every key, so it must be immutable.
    *
    * NULL policy: rows with a NULL `key`, `ord` or `value` are DROPPED up
    * front (the StatTests pair-drop rule) — a NULL key would otherwise
    * fold under one phantom `null == null` state, and a NULL order or
    * value has no place in the fold. The oracles apply the same filter.
    *
    * Steps receive rows of `df`'s schema and emit rows of `out`.
    */
  def batch[S](
      df: DataFrame,
      key: String,
      ord: String,
      value: String,
      out: StructType,
      init: S
  )(step: (S, Row, Row => Unit) => S): DataFrame = {
    val keyIdx = df.schema.fieldIndex(key)
    df.filter(col(key).isNotNull && col(ord).isNotNull && col(value).isNotNull)
      .repartition(col(key))
      .sortWithinPartitions(col(key), col(ord))
      .mapPartitions { it =>
        var curKey: Any = null
        var st = init
        val buf = ArrayBuffer.empty[Row]
        val emit: Row => Unit = buf += _
        it.flatMap { row =>
          val k = row.get(keyIdx)
          if (k != curKey) { curKey = k; st = init }
          buf.clear()
          st = step(st, row, emit)
          buf
        }
      }(Encoders.row(out))
  }
}
