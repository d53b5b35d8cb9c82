package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.KeyedFold
import graft.operators.{Shedding, Windows}
import graft.state.CheckpointFiles

/** Structured Streaming implementations of ralf's incremental semantics
  * (reference: the eager per-record push loop, ralf/operator.py:189-259).
  *
  * Batch graft computes feature tables by re-aggregation; this module is
  * the incremental path: one keyed state store, every micro-batch folds
  * new records into per-key state and emits updates — exactly ralf's
  * `send` → upsert → forward loop, with Spark owning sharding
  * (HashPartitioning on the grouping key ≈ ralf's SHA1(key) % replicas,
  * ralf/operator.py:44-50), checkpointing, and recovery.
  *
  * State is bounded with `GroupStateTimeout.ProcessingTimeTimeout` — the
  * streaming analog of ralf's LRU cache_size eviction
  * (ralf/operator.py:243-254): idle keys expire instead of
  * least-recently-used keys being evicted.
  *
  * The ordered stateful operators run on [[graft.core.KeyedFold]]: one
  * stateful node each, a per-record step, records applied in `ord`
  * order within a micro-batch (ties broken as each operator states)
  * and in arrival order across batches, as in the reference.
  */
object StreamingFeatures {

  /** An update record: key + order + value (the conventional ralf record
    * shape, ralf/operators/source.py:61-70).
    */
  final case class Update(key: String, ord: Long, value: Double)

  // the in-batch orders the ordered operators share
  private val byOrd: Option[Ordering[Update]] = Some(Ordering.by(_.ord))
  private val byOrdValue: Option[Ordering[Update]] = Some(Ordering.by(u => (u.ord, u.value)))
  private val eventOrder: Option[Ordering[TypedEvent]] = Some(Ordering.by(e => (e.ord, e.etype)))

  /** Current per-key feature state: latest record + update counter
    * (mirrors TableState counters, ralf/state/table_state.py:9-46).
    */
  final case class KeyFeature(key: String, ord: Long, value: Double, numUpdates: Long)

  /** Latest-wins upsert as a stateful stream: each micro-batch keeps the
    * max-ord record per key (merging with stored state), increments the
    * update counter, and emits the key's new current value.
    *
    * @param ttlMs idle-state expiry in ms; <= 0 keeps state forever.
    */
  def latestPerKey(
      spark: SparkSession,
      updates: Dataset[Update],
      ttlMs: Long = 0L
  ): Dataset[KeyFeature] = {
    import spark.implicits._
    CheckpointFiles.use(updates.sparkSession)
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    updates
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), timeout) {
        (key: String, batch: Iterator[Update], state: GroupState[KeyFeature]) =>
          if (state.hasTimedOut) {
            state.remove() // ralf's cache eviction: drop idle key state
            Iterator.empty
          } else {
            var cur = state.getOption.getOrElse(KeyFeature(key, Long.MinValue, 0.0, 0L))
            var n = cur.numUpdates
            batch.foreach { u =>
              n += 1
              if (u.ord >= cur.ord) cur = KeyFeature(key, u.ord, u.value, n)
              else cur = cur.copy(numUpdates = n)
            }
            state.update(cur)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            Iterator.single(cur)
          }
      }
  }

  /** Per-key count-based tumbling window as a stateful stream
    * (ralf/operators/window.py:14-51): buffer until `size` records, emit
    * the full window, reset. Exactly the reference's buffer semantics —
    * this is the operator the batch formulation approximates with
    * row_number bucketing.
    */
  final case class WindowEmit(key: String, windowId: Long, values: Seq[Double])

  /** Tumbling-window buffer state (public: the state encoder's generated
    * code constructs and reads it).
    */
  final case class WinState(buffer: Array[Double], emitted: Long)

  def tumblingCountWindow(
      spark: SparkSession,
      updates: Dataset[Update],
      size: Int
  ): Dataset[WindowEmit] = {
    import spark.implicits._
    KeyedFold.stream[String, Update, WinState, WindowEmit](updates, OutputMode.Append(), byOrd,
        _.key, _ => WinState(Array.empty, 0L)) { (key, st, u, emit) =>
      val buf = st.buffer :+ u.value
      if (buf.length >= size) {
        emit(WindowEmit(key, st.emitted, buf.take(size).toSeq))
        WinState(Array.empty, st.emitted + 1)
      } else st.copy(buffer = buf)
    }
  }

  /** Per-key count-based sliding window as a stateful stream
    * (ralf/operators/window.py:54-124): emit the last `windowSize`
    * values every `slideSize` records. State holds the last
    * min(seen, windowSize) values plus a position counter — bounded
    * regardless of stream length.
    */
  final case class SlideState(buffer: Array[Double], seen: Long)

  def slidingCountWindow(
      spark: SparkSession,
      updates: Dataset[Update],
      windowSize: Int,
      slideSize: Int
  ): Dataset[WindowEmit] = {
    import spark.implicits._
    KeyedFold.stream[String, Update, SlideState, WindowEmit](updates, OutputMode.Append(), byOrd,
        _.key, _ => SlideState(Array.empty, 0L)) { (key, st, u, emit) =>
      val buf0 = st.buffer :+ u.value
      // keep only the trailing window
      val buf = if (buf0.length > windowSize) buf0.takeRight(windowSize) else buf0
      val seen = st.seen + 1
      // emit at rows where seen >= w and (seen - w) % s == 0 —
      // the same emit predicate as the batch formulation
      if (seen >= windowSize && (seen - windowSize) % slideSize == 0)
        emit(WindowEmit(key, (seen - windowSize) / slideSize, buf.toSeq))
      SlideState(buf, seen)
    }
  }

  /** An update that may be an eviction tombstone (ralf's cascading
    * `evict(key)`, ralf/operator.py:248-262: the LRU overflow path
    * notifies parents AND children, each deleting the key from its
    * table). Spark-native twin: eviction is DATA — a tombstone record
    * keyed like any update — so it flows through the operator chain and
    * every stateful stage drops its own state for the key, and the sink
    * deletes the row. TTL ([[latestPerKey]]) bounds state by idleness;
    * tombstones bound it by explicit cross-table cascade.
    */
  final case class EvictableUpdate(key: String, ord: Long, value: Double, tombstone: Boolean)

  /** Output of [[latestPerKeyEvictable]]: either the key's new current
    * value or an eviction event (`evicted=true`) downstream stages and
    * sinks act on.
    */
  final case class KeyEvent(key: String, ord: Long, value: Double, numUpdates: Long, evicted: Boolean)

  /** [[latestPerKey]] with cascading eviction: a tombstone drops the
    * key's state and forwards an `evicted=true` event so child operators
    * and sinks evict too. Updates arriving after a tombstone restart the
    * key from zero (exactly the reference's delete-then-reinsert).
    */
  def latestPerKeyEvictable(
      spark: SparkSession,
      updates: Dataset[EvictableUpdate]
  ): Dataset[KeyEvent] = {
    import spark.implicits._
    CheckpointFiles.use(updates.sparkSession)
    updates
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[EvictableUpdate], state: GroupState[KeyFeature]) =>
          val out = Seq.newBuilder[KeyEvent]
          var cur = state.getOption
          batch.toSeq.sortBy(u => (u.ord, u.tombstone)).foreach { u =>
            if (u.tombstone) {
              if (cur.isDefined) {
                cur = None
                out += KeyEvent(key, u.ord, 0.0, 0L, evicted = true)
              }
            } else {
              val c = cur.getOrElse(KeyFeature(key, Long.MinValue, 0.0, 0L))
              val n = c.numUpdates + 1
              val next =
                if (u.ord >= c.ord) KeyFeature(key, u.ord, u.value, n)
                else c.copy(numUpdates = n)
              cur = Some(next)
              out += KeyEvent(key, next.ord, next.value, next.numUpdates, evicted = false)
            }
          }
          cur match {
            case Some(c) => state.update(c)
            case None    => if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  /** One record of a two-sided keyed stream (`isLeft` tags the side). */
  final case class SideUpdate(key: String, ord: Long, value: Double, isLeft: Boolean)

  /** A consumed pair: the i-th left record of a key joined with the i-th
    * right record of that key.
    */
  final case class JoinedPair(key: String, lOrd: Long, lValue: Double, rOrd: Long, rValue: Double)

  /** Per-key join buffer: whichever side is ahead keeps its unconsumed
    * records (at most one side is ever non-empty). Arrays, not Seq —
    * the state encoder's generated code requires it.
    */
  final case class JoinBuf(
      lOrds: Array[Long], lVals: Array[Double],
      rOrds: Array[Long], rVals: Array[Double])

  /** Streaming consume-once LeftJoin (ralf/operators/join.py:35-56): left
    * records buffer per key and each arriving right record consumes the
    * OLDEST buffered left exactly once — i-th left pairs with i-th
    * right. The streaming twin of [[graft.operators.Joins.sequenceJoin]];
    * outputs are identical on the same records (order aside).
    *
    * Rights arriving before their left also buffer (micro-batch
    * boundaries can put a right ahead of its left — the eager reference
    * loop has the same property under arbitrary arrival interleaving).
    * State per key is the pending tail of ONE side: each record consumes
    * the other side's oldest pending record or, if there is none,
    * queues, so the buffers never both grow. Within a micro-batch records
    * apply in ord order (stable, so each side keeps its own order).
    */
  def sequenceJoinStream(
      spark: SparkSession,
      updates: Dataset[SideUpdate]
  ): Dataset[JoinedPair] = {
    import spark.implicits._
    KeyedFold.stream[String, SideUpdate, JoinBuf, JoinedPair](updates, OutputMode.Append(),
        Some(Ordering.by(_.ord)), _.key,
        _ => JoinBuf(Array.empty, Array.empty, Array.empty, Array.empty)) { (key, b, u, emit) =>
      if (u.isLeft && b.rOrds.nonEmpty) {
        emit(JoinedPair(key, u.ord, u.value, b.rOrds(0), b.rVals(0)))
        b.copy(rOrds = b.rOrds.drop(1), rVals = b.rVals.drop(1))
      } else if (u.isLeft) b.copy(lOrds = b.lOrds :+ u.ord, lVals = b.lVals :+ u.value)
      else if (b.lOrds.nonEmpty) {
        emit(JoinedPair(key, b.lOrds(0), b.lVals(0), u.ord, u.value))
        b.copy(lOrds = b.lOrds.drop(1), lVals = b.lVals.drop(1))
      } else b.copy(rOrds = b.rOrds :+ u.ord, rVals = b.rVals :+ u.value)
    }
  }

  /** Output of [[asOfJoinStream]]: a left record paired with the right
    * side's latest (ord, value) at-or-before the left's own ord (None
    * when no right at-or-before it has arrived).
    */
  final case class AsOfPair(
      key: String, lOrd: Long, lValue: Double,
      asOfOrd: Option[Long], asOfValue: Option[Double])

  /** Per-key right-side retention, ascending by ord (arrays for the
    * state encoder, as in [[JoinBuf]]).
    */
  final case class RightsBuf(ords: Array[Long], vals: Array[Double])

  /** Streaming point-in-time (as-of) join — the twin of
    * [[graft.operators.Joins.asOfJoin]]: each left record enriches with
    * the right side's latest value at-or-before the left's OWN ord for
    * its key (a right at the same ord pairs, matching the batch
    * operator's (ord, side) sort). Outputs equal the batch operator on
    * the same records whenever arrival order respects ord order — the
    * same cross-batch convention as the other stateful twins; a right
    * arriving after a later-ord left was already emitted is missed,
    * exactly like the reference's eager processing-time loop.
    *
    * Expressed as custom keyed state rather than Spark's native
    * stream-stream interval join deliberately: the interval join emits
    * EVERY right inside the time band (requiring a second stateful
    * per-left max aggregation downstream, with its own watermark delay),
    * while "latest at-or-before" is directly a binary search against a
    * per-key sorted buffer. State is bounded by `maxRightsPerKey` —
    * the oldest rights prune first, the retention analog of an interval
    * join's lower time bound; a left older than the pruned horizon may
    * resolve to a newer right than full history would give.
    */
  def asOfJoinStream(
      spark: SparkSession,
      updates: Dataset[SideUpdate],
      maxRightsPerKey: Int = 1024
  ): Dataset[AsOfPair] = {
    import spark.implicits._
    // in-batch order: by ord, rights before lefts at equal ord — mirrors
    // the batch operator's (_ord asc, _ir desc) sort
    KeyedFold.stream[String, SideUpdate, RightsBuf, AsOfPair](updates, OutputMode.Append(),
        Some(Ordering.by(u => (u.ord, u.isLeft))), _.key,
        _ => RightsBuf(Array.empty, Array.empty)) { (key, b, u, emit) =>
      if (!u.isLeft) {
        val pos = upperBound(b.ords, u.ord) // append in the in-order common case
        val ords = (b.ords.take(pos) :+ u.ord) ++ b.ords.drop(pos)
        val vals = (b.vals.take(pos) :+ u.value) ++ b.vals.drop(pos)
        if (ords.length > maxRightsPerKey) RightsBuf(ords.drop(1), vals.drop(1))
        else RightsBuf(ords, vals)
      } else {
        val pos = upperBound(b.ords, u.ord) - 1 // latest right with ord <= left ord
        if (pos >= 0) emit(AsOfPair(key, u.ord, u.value, Some(b.ords(pos)), Some(b.vals(pos))))
        else emit(AsOfPair(key, u.ord, u.value, None, None))
        b
      }
    }
  }

  /** First index in ascending `a` whose value exceeds `x` (a.length if
    * none) — the insertion point that keeps ties' arrival order.
    */
  private def upperBound(a: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Running per-key sum (v2 `Sum`, ralf/v2/examples/counter.py:56-65)
    * as an always-on stream: emits the cumulative (sum, count) after
    * each micro-batch.
    */
  final case class RunningSum(key: String, sum: Double, count: Long)

  def runningSum(spark: SparkSession, updates: Dataset[Update]): Dataset[RunningSum] = {
    import spark.implicits._
    KeyedFold.stream[String, Update, RunningSum, RunningSum](updates, OutputMode.Update(), None,
        _.key, RunningSum(_, 0.0, 0L))(
      (key, cur, u, _) => RunningSum(key, cur.sum + u.value, cur.count + 1), emitState)
  }

  /** The `done` of operators whose output is their state, once per batch. */
  private def emitState[K, S](key: K, st: S): Iterator[S] = Iterator.single(st)

  /** Decayed-feature state: the key's newest seen ordinal and the
    * decayed aggregates AS OF that ordinal. */
  final case class DecayState(key: String, tRef: Long, decayedSum: Double,
      decayedCount: Double, nEvents: Long)

  /** Streaming twin of [[graft.operators.Windows.decayedSum]]: per-key
    * exponential half-life decay maintained incrementally in O(1)
    * state. The state stores aggregates anchored at the key's newest
    * ordinal; when a newer event arrives the whole aggregate RESCALES
    * by 2^(-(Δ)/halfLife) before the new event folds in (the standard
    * incremental-decay trick — no event history kept). Late events
    * (ord <= tRef) fold in pre-decayed against the current anchor.
    * Equality with the batch operator is up to FP associativity: the
    * batch side sums independently-quantized terms, the stream folds —
    * StreamingSpec pins agreement within 1e-9 · n.
    */
  def decayedSumStream(
      spark: SparkSession,
      updates: Dataset[Update],
      halfLife: Long
  ): Dataset[DecayState] = {
    import spark.implicits._
    require(halfLife > 0, s"halfLife must be positive, got $halfLife")
    KeyedFold.stream[String, Update, DecayState, DecayState](updates, OutputMode.Update(),
        byOrdValue, _.key, DecayState(_, Long.MinValue, 0.0, 0.0, 0L))(
      (_, cur, u, _) => foldDecay(cur, u, halfLife), emitState)
  }

  /** One decay-fold step (exposed for direct spec coverage of the
    * late-arrival branch, which a single sorted micro-batch never
    * takes). */
  private[graft] def foldDecay(cur: DecayState, u: Update, halfLife: Long): DecayState = {
    val ln2 = 0.6931471805599453
    def factor(delta: Long): Double = math.exp(delta.toDouble / halfLife * ln2)
    if (cur.nEvents == 0L)
      DecayState(u.key, u.ord, u.value, 1.0, 1L)
    else if (u.ord > cur.tRef) {
      val f = factor(cur.tRef - u.ord) // < 1: old mass decays
      DecayState(u.key, u.ord,
        cur.decayedSum * f + u.value, cur.decayedCount * f + 1.0, cur.nEvents + 1L)
    } else {
      val f = factor(u.ord - cur.tRef) // late event pre-decays
      DecayState(u.key, cur.tRef,
        cur.decayedSum + u.value * f, cur.decayedCount + f, cur.nEvents + 1L)
    }
  }

  /** A typed event for the streaming funnel. */
  final case class TypedEvent(key: String, ord: Long, etype: String)

  /** Streaming funnel state: how many steps the key has completed and
    * the matched ordinal per completed step. */
  final case class FunnelProgress(key: String, nEvents: Long, stepOrds: Seq[Long])

  /** Streaming twin of [[graft.operators.Funnel.ordered]]: per-key
    * conversion progress maintained online. Greedy earliest-completion
    * matching IS the in-order scan — an event advances the funnel iff
    * it is the next expected step and strictly after the previous
    * match — so the streamed state equals the batch operator's row on
    * the same events (StreamingSpec pins equality). O(steps) state per
    * key; events never buffer.
    */
  def funnelStream(
      spark: SparkSession,
      events: Dataset[TypedEvent],
      steps: Seq[String]
  ): Dataset[FunnelProgress] = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    KeyedFold.stream[String, TypedEvent, FunnelProgress, FunnelProgress](events,
        OutputMode.Update(), eventOrder, _.key, FunnelProgress(_, 0L, Seq.empty))(
      { (key, cur, e, _) =>
        val step = cur.stepOrds.length
        val advances = step < steps.length && e.etype == steps(step) &&
          (cur.stepOrds.isEmpty || e.ord > cur.stepOrds.last)
        FunnelProgress(key, cur.nEvents + 1L,
          if (advances) cur.stepOrds :+ e.ord else cur.stepOrds)
      }, emitState)
  }

  /** One adjacency emitted by [[transitionsStream]]: the key's
    * previous event type, the arriving type, and the arriving ordinal
    * (for per-epoch attribution).
    */
  final case class TransitionPair(key: String, fromType: String, toType: String, ord: Long)

  /** Streaming twin of [[graft.operators.Funnel.transitions]]: the
    * batch operator's `lead()` pairing is not stream-legal (a window
    * over the future), but the adjacency fold IS — O(1) state per key
    * (the last event type), each arriving event emits exactly one
    * (from, to) pair against it. Aggregating the emitted pairs with
    * `groupBy(from_type, to_type).count` equals the batch operator's
    * counts over the same in-order stream — per-key adjacency is
    * preserved across micro-batch boundaries by the state handoff
    * (StreamingSpec pins stream ≡ batch including the probability
    * recomputation). In-order contract as in [[funnelStream]]; ties on
    * `ord` break by event type, so feed unique per-key ordinals for
    * exact batch parity (the batch window's tie order is
    * plan-dependent).
    */
  def transitionsStream(
      spark: SparkSession,
      events: Dataset[TypedEvent]
  ): Dataset[TransitionPair] = {
    import spark.implicits._
    // state: the key's last event type (null before its first event)
    KeyedFold.stream[String, TypedEvent, String, TransitionPair](events, OutputMode.Append(),
        eventOrder, _.key, _ => null) { (key, last, e, emit) =>
      if (last != null) emit(TransitionPair(key, last, e.etype, e.ord))
      e.etype
    }
  }

  /** A closed SCD2 version interval emitted by [[historyStream]]. */
  final case class ClosedVersion(key: String, value: String, validFrom: Long, validTo: Long)

  /** The open (current) version [[historyStream]] holds per key. */
  final case class OpenVersion(value: String, validFrom: Long)

  /** Streaming twin of [[graft.operators.Upsert.history]]: SCD2 version
    * intervals maintained live over the update stream. The batch
    * operator's `lead()` close is not stream-legal (a window over the
    * future), but interval closing IS a pure adjacency fold — O(1)
    * state per key (the open version), and the moment a key's value
    * CHANGES the predecessor interval is complete and emits
    * `[valid_from, valid_to)`. No-change updates collapse into the open
    * version exactly as in batch. Append-mode cannot retract, so the
    * stream's contract is CLOSED intervals only; the open versions live
    * in state (StreamingSpec pins stream-closed ≡ batch-closed across
    * micro-batch boundaries, with the batch NULL-valid_to rows being
    * exactly the keys still open in state). In-order contract as in
    * [[funnelStream]]; feed unique per-key ordinals.
    */
  def historyStream(
      spark: SparkSession,
      events: Dataset[TypedEvent]
  ): Dataset[ClosedVersion] = {
    import spark.implicits._
    // state: the open version (null before the key's first event)
    KeyedFold.stream[String, TypedEvent, OpenVersion, ClosedVersion](events, OutputMode.Append(),
        eventOrder, _.key, _ => null) { (key, open, e, emit) =>
      if (open == null) OpenVersion(e.etype, e.ord)
      else if (open.value != e.etype) {
        emit(ClosedVersion(key, open.value, open.validFrom, e.ord))
        OpenVersion(e.etype, e.ord)
      } else open // no-change update collapses
    }
  }

  /** Stateful shedding gate (make_mean_policy,
    * ralf/policies/load_shedding_policy.py:41-50) on a live stream: pass
    * an update through only if it moved >= thresh from the last KEPT
    * value. The streaming twin of [[Shedding.meanPolicyFold]]: both run
    * [[Shedding.meanGate]], so they agree by construction.
    */
  def meanPolicyGate(
      spark: SparkSession,
      updates: Dataset[Update],
      thresh: Double
  ): Dataset[Update] = {
    import spark.implicits._
    KeyedFold.stream[String, Update, Double, Update](updates, OutputMode.Update(), byOrd,
        _.key, _ => Double.NaN) { (_, last, u, emit) =>
      Shedding.meanGate(thresh)(last, u.value)(emit(u))
    }
  }

  /** A session-tagged record emitted by [[sessionizeStream]]. */
  final case class SessionAssign(key: String, ord: Long, value: Double, sessionId: Long)

  /** Sessionizer state: last seen ord + current session index (public
    * with primitive fields for the state encoder).
    */
  final case class SessState(lastOrd: Long, session: Long)

  /** Ord-gap sessionization on a live stream — the exact twin of the
    * batch [[graft.operators.Windows.sessionize]] (a new session starts
    * when the gap to the key's previous record exceeds `maxGap` in ord
    * units; ids start at 0). State per key is two longs, regardless of
    * history length. Records apply in ord order within a micro-batch;
    * as with the other stateful twins, cross-batch arrival order is the
    * stream's order.
    */
  def sessionizeStream(
      spark: SparkSession,
      updates: Dataset[Update],
      maxGap: Long
  ): Dataset[SessionAssign] = {
    import spark.implicits._
    // a new key starts at session -1, so its first record opens session 0
    KeyedFold.stream[String, Update, SessState, SessionAssign](updates, OutputMode.Append(),
        byOrd, _.key, _ => SessState(Long.MinValue, -1L)) { (key, s, u, emit) =>
      val session =
        if (s.session < 0 || u.ord - s.lastOrd > maxGap) s.session + 1 else s.session
      emit(SessionAssign(key, u.ord, u.value, session))
      SessState(u.ord, session)
    }
  }

  /** A timestamped update for event-time windowing. */
  final case class TimedUpdate(key: String, eventTime: java.sql.Timestamp, value: Double)

  /** Event-time tumbling window aggregation with a watermark — the
    * wall-clock twin of the count-based windows (the reference's windows
    * are count-based; a production feed aggregates by event time).
    * Append mode: a window emits once, when the watermark (max observed
    * event time minus `watermarkDelay`) passes its end — late records
    * inside the delay still count, older ones are dropped, and state is
    * purged per window. sum/count are emitted (means derive downstream).
    */
  def eventTimeTumbling(
      spark: SparkSession,
      updates: Dataset[TimedUpdate],
      windowDuration: String,
      watermarkDelay: String
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    updates.toDF()
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(col("key"), window(col("eventTime"), windowDuration).as("win"))
      .agg(sum(col("value")).as("w_sum"), count(lit(1)).as("w_count"))
      .select(col("key"), col("win.start").as("win_start"),
        col("win.end").as("win_end"), col("w_sum"), col("w_count"))
  }

  /** Event-time SLIDING window aggregation with a watermark: one record
    * contributes to every window whose span covers it
    * (windowDuration / slideDuration overlapping windows); emission and
    * late-data semantics as in [[eventTimeTumbling]].
    */
  def eventTimeSliding(
      spark: SparkSession,
      updates: Dataset[TimedUpdate],
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    updates.toDF()
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(col("key"), window(col("eventTime"), windowDuration, slideDuration).as("win"))
      .agg(sum(col("value")).as("w_sum"), count(lit(1)).as("w_count"))
      .select(col("key"), col("win.start").as("win_start"),
        col("win.end").as("win_end"), col("w_sum"), col("w_count"))
  }

  /** Windowed enrichment via Spark's NATIVE stream-stream interval
    * join: every (left, right) pair with the same key and right event
    * time inside [left time − horizon, left time] — the "all recent
    * rights" enrichment variant ([[asOfJoinStream]] keeps only the
    * single latest right; this keeps the window of them, e.g. features
    * from every sensor reading in the last N minutes). Watermarks on
    * both sides plus the interval condition let Spark itself bound and
    * evict join state — the idiomatic cover for this shape, no custom
    * state needed. Output columns: key, l_time, l_value, r_time,
    * r_value; append mode (pairs emit as both sides arrive).
    */
  def intervalJoinStream(
      spark: SparkSession,
      left: Dataset[TimedUpdate],
      right: Dataset[TimedUpdate],
      horizon: String,
      watermarkDelay: String
  ): DataFrame = {
    val l = left.toDF().withWatermark("eventTime", watermarkDelay)
      .select(col("key"), col("eventTime").as("l_time"), col("value").as("l_value"))
    val r = right.toDF().withWatermark("eventTime", watermarkDelay)
      .select(col("key").as("r_key"), col("eventTime").as("r_time"), col("value").as("r_value"))
    l.join(r,
      col("key") === col("r_key") &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $horizon") &&
        col("r_time") <= col("l_time"),
      "inner").drop("r_key")
  }

  /** Event-time sessionization on a live stream via Spark's native
    * session_window: a key's session extends while events arrive within
    * `gapDuration` of each other and closes when the watermark passes
    * last-event + gap. The streaming twin of the batch
    * [[graft.operators.Windows.sessionize]] (which gaps on an order
    * column); state per open session is one merged window, not the
    * event list.
    */
  def eventTimeSessionize(
      spark: SparkSession,
      updates: Dataset[TimedUpdate],
      gapDuration: String,
      watermarkDelay: String
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    updates.toDF()
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(col("key"), session_window(col("eventTime"), gapDuration).as("sess"))
      .agg(sum(col("value")).as("s_sum"), count(lit(1)).as("s_count"))
      .select(col("key"), col("sess.start").as("sess_start"),
        col("sess.end").as("sess_end"), col("s_sum"), col("s_count"))
  }

  /** A document on the ingest stream (content only — the hash is
    * computed inside [[dedupExactStream]] with the engine-portable
    * StrHash, so stream and batch agree on bucketing).
    */
  final case class StreamDoc(docId: Long, text: String)

  /** [[StreamDoc]] with its content hash attached (public: the encoder's
    * generated code constructs and reads it).
    */
  final case class HashedStreamDoc(docId: Long, text: String, textHash: Long)

  /** Current dedup state of one content group: canonical (first-seen
    * minimum) doc id + copy count — the streaming row mirroring one
    * output row of the batch [[graft.llm.Dedup.exact]].
    */
  final case class DedupGroup(textHash: Long, canonicalId: Long, nCopies: Long)

  /** Streaming exact dedup — the incremental twin of
    * [[graft.llm.Dedup.exact]]: documents arrive continuously, each
    * content group keeps O(1) state (canonical id + count), and every
    * micro-batch emits the group's updated row. The batch operator
    * re-aggregates the corpus; this one folds new arrivals into state —
    * the shape an always-on ingest pipeline runs, where "is this doc a
    * dup?" must answer per batch, not per corpus rebuild.
    *
    * Group key is (strhash, md5) exactly like the batch operator — the
    * hash bucketizes, the 128-bit md5 witness makes cross-document
    * collisions negligible WITHOUT keying the state store by full
    * document text (state stays ~3 longs + 32 hex chars per group).
    * Canonicality is min doc id OVER ARRIVALS SO FAR, so after any
    * prefix of the stream the emitted table (latest row per group)
    * equals the batch operator on that prefix — StreamingSpec pins
    * stream ≡ batch on the real corpus.
    *
    * Scale: state per group is two longs plus the group key; Spark
    * shards groups by hash across executors (same partitioning a batch
    * hash-aggregate uses). Use `GroupStateTimeout` + a compaction pass
    * for unbounded corpora where old content can stop competing.
    */
  def dedupExactStream(
      spark: SparkSession,
      docs: Dataset[StreamDoc]
  ): Dataset[DedupGroup] = {
    import spark.implicits._
    import org.apache.spark.sql.graft.Bridge
    val hashed = docs
      .withColumn("textHash",
        Bridge.column(graft.functions.StrHash(Bridge.expression(col("text")))))
      .as[HashedStreamDoc]
    val md5Key = (d: HashedStreamDoc) => {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (d.textHash, dig.map("%02x".format(_)).mkString)
    }
    KeyedFold.stream[(Long, String), HashedStreamDoc, DedupGroup, DedupGroup](hashed,
        OutputMode.Update(), None, md5Key, k => DedupGroup(k._1, Long.MaxValue, 0L))(
      (_, cur, d, _) =>
        DedupGroup(cur.textHash, math.min(cur.canonicalId, d.docId), cur.nCopies + 1),
      emitState)
  }

  /** Streaming incremental near-dup dedup — the streaming twin of
    * [[graft.llm.Dedup.minhashAgainstPairs]]: documents arrive
    * continuously and each is checked against the ACCUMULATED corpus,
    * whose MinHash signatures are a static table (exactly what a real
    * pipeline persists between snapshots — K longs per doc).
    *
    * Plan: the stream side computes signature + band digests per
    * micro-batch (pure expressions, no state), probes the static band
    * table with a stream-static equi-join keyed by (band, digest), and
    * verifies candidates against full signatures. A pair can collide on
    * several bands, so matches fold through a stateful
    * (new_doc, old_doc) aggregation (Update mode; est-Jaccard is
    * pair-constant, `max` makes the emission idempotent) — state is
    * O(matched pairs), the flag table itself.
    *
    * At scale the static side is a bucketed band table on disk; Spark
    * reloads it per micro-batch and the join prunes by digest — new
    * docs never see the corpus, only their band collisions.
    */
  def dedupAgainstStream(
      spark: SparkSession,
      docs: Dataset[StreamDoc],
      existingDocs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double
  ): DataFrame = {
    import graft.llm.TextOps
    val oldSigs = existingDocs
      .select(col(idCol).as("old_doc"),
        TextOps.minhashSignature(TextOps.shingleHashes(col(textCol))).as("old_sig"))
      .localCheckpoint(false) // computed once, probed every micro-batch
    val oldBands = oldSigs
      .select(col("old_doc"), col("old_sig"),
        posexplode(TextOps.bandDigests(col("old_sig"))).as(Seq("band", "digest")))
    val newBands = docs.toDF()
      .select(col("docId").as("new_doc"),
        TextOps.minhashSignature(TextOps.shingleHashes(col("text"))).as("sig"))
      .select(col("new_doc"), col("sig"),
        posexplode(TextOps.bandDigests(col("sig"))).as(Seq("band", "digest")))
    newBands
      .join(oldBands, Seq("band", "digest")) // stream-static join
      .select(col("new_doc"), col("old_doc"),
        TextOps.estJaccard(col("sig"), col("old_sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .groupBy(col("new_doc"), col("old_doc"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Convenience: run a streaming Dataset built from a MemoryStream (or
    * any source) to completion of available data, collecting to an
    * in-memory table. Used by tests and the local demo.
    */
  /** A weighted-sampling candidate: group + id + weight. */
  final case class WeightedDoc(group: String, id: Long, weight: Double)

  /** A current selection entry emitted after each micro-batch. */
  final case class WeightedKeep(group: String, id: Long, weight: Double, esKey: Double)

  // parallel primitive arrays, public like every state class here: the
  // encoder's generated deserializer needs reflective constructor
  // access (a private List[case class] state tripped it)
  final case class WSampleState(
      ids: Array[Long], weights: Array[Double], keys: Array[Double])

  /** The A-Res key for one candidate — the EXACT JVM replica of
    * [[graft.operators.Shedding.weightedSample]]'s column expression
    * (same "wsmp:" salt, same squared-strhash uniform, StrictMath.log
    * because Spark's Log expression evaluates through StrictMath), so
    * the streamed selection can equal the batch selection bit-for-bit.
    */
  private[graft] def aresKey(id: Long, weight: Double): Double = {
    val h = graft.functions.StrHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("wsmp:" + id))
    val u = (h * h % 1000000007L + 1L).toDouble / 1000000008.0
    StrictMath.log(u) / weight
  }

  /** Streaming twin of [[graft.operators.Shedding.weightedSample]]:
    * Efraimidis–Spirakis A-Res top-k per group maintained
    * incrementally. State is the group's k best (esKey desc, id asc)
    * entries — O(k) per group, order-insensitive because A-Res keys
    * are a deterministic function of (id, weight) alone; each
    * micro-batch folds its candidates (non-positive weights
    * ineligible, the batch contract) and emits the group's CURRENT
    * selection, so after any prefix of the stream the emitted set
    * equals the batch operator run on that prefix (StreamingSpec pins
    * final-state equality and the mid-stream prefix).
    */
  def weightedSampleStream(
      spark: SparkSession,
      docs: Dataset[WeightedDoc],
      k: Int
  ): Dataset[WeightedKeep] = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val better = (a: WeightedKeep, b: WeightedKeep) =>
      a.esKey > b.esKey || (a.esKey == b.esKey && a.id < b.id)
    // the state's entries, best first
    val entries = (group: String, s: WSampleState) =>
      s.ids.indices.toList.map(i => WeightedKeep(group, s.ids(i), s.weights(i), s.keys(i)))
    KeyedFold.stream[String, WeightedDoc, WSampleState, WeightedKeep](docs, OutputMode.Update(),
        None, _.group, _ => WSampleState(Array.empty, Array.empty, Array.empty))(
      { (group, s, d, _) =>
        if (d.weight > 0.0) {
          val e = WeightedKeep(group, d.id, d.weight, aresKey(d.id, d.weight))
          val kept = (e :: entries(group, s)).sortWith(better).take(k)
          WSampleState(kept.map(_.id).toArray, kept.map(_.weight).toArray,
            kept.map(_.esKey).toArray)
        } else s
      }, entries(_, _).iterator)
  }

  /** Trailing-window slope state: the last `windowSize` (ord, cent)
    * pairs, oldest first — parallel primitive arrays (the
    * encoder-safe state shape).
    */
  final case class SlopeState(ords: Array[Long], cents: Array[Long])

  /** One emitted trend point; `slope` is None until the window fills
    * or when duplicate ordinals degenerate the regression.
    */
  final case class SlopePoint(key: String, ord: Long, slope: Option[Double])

  /** Streaming twin of [[graft.operators.Windows.decayedSum]]'s
    * sibling [[graft.operators.Windows.rollingSlope]]: the per-key
    * trailing-window OLS trend maintained in O(windowSize) state. The
    * sufficient statistics are the same exact longs as the batch
    * operator (cent-quantized y, integer x), so for an in-order
    * stream every emitted slope is BIT-IDENTICAL to the batch window
    * at the same (key, ord) — StreamingSpec pins equality across a
    * two-micro-batch feed. In-order contract as in funnelStream; the
    * state is the ring itself, so a re-sort variant would only change
    * the fold order, not the state size.
    */
  def rollingSlopeStream(
      spark: SparkSession,
      updates: Dataset[Update],
      windowSize: Int
  ): Dataset[SlopePoint] = {
    import spark.implicits._
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    KeyedFold.stream[String, Update, SlopeState, SlopePoint](updates, OutputMode.Append(),
        byOrdValue, _.key, _ => SlopeState(Array.emptyLongArray, Array.emptyLongArray)) {
      (key, st, u, emit) =>
        val ords = (st.ords :+ u.ord).takeRight(windowSize)
        val cents = (st.cents :+ toCents(u.value)).takeRight(windowSize)
        if (ords.length == windowSize) {
          val n = windowSize.toLong
          val sx = ords.sum
          val sy = cents.sum
          val sxy = ords.zip(cents).map { case (a, b) => a * b }.sum
          val sxx = ords.map(a => a * a).sum
          val den = n * sxx - sx * sx
          val slope =
            if (den == 0L) None
            else Some(BigDecimal((n * sxy - sx * sy).toDouble / den.toDouble / 100.0)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          emit(SlopePoint(key, u.ord, slope))
        }
        SlopeState(ords, cents)
    }
  }

  /** Dollars to integer cents exactly as the batch twins' Spark
    * `round(value * 100)` does. HALF_UP, not math.round (floor(x+0.5)):
    * Spark's round is BigDecimal HALF_UP, and the two differ on negative
    * half-cent boundaries (-12.5 → -13 vs -12) — ADVICE r7; same
    * decimal-text BigDecimal Spark's Round constructs.
    */
  private def toCents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Trailing z-score state: the key's last `windowSize` cent values,
    * oldest first.
    */
  final case class ZScoreState(cents: Array[Long])

  /** One scored event; `z` is None until the lookback fills or when
    * the lookback has zero variance (matching the batch NULL).
    */
  final case class ZScorePoint(key: String, ord: Long, z: Option[Double], isAnomaly: Boolean)

  /** Streaming twin of [[graft.operators.Windows.rollingZScore]]: each
    * in-order event is scored against the PRIOR `windowSize` events of
    * its key — O(windowSize) ring state, the same exact cent-long
    * sufficient statistics, the same single sqrt + division (Math.sqrt
    * is the correctly-rounded IEEE root Spark's Sqrt evaluates), so
    * every emitted z is BIT-IDENTICAL to the batch window at the same
    * (key, ord). In-order contract as in [[rollingSlopeStream]].
    */
  def rollingZScoreStream(
      spark: SparkSession,
      updates: Dataset[Update],
      windowSize: Int,
      threshold: Double
  ): Dataset[ZScorePoint] = {
    import spark.implicits._
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    KeyedFold.stream[String, Update, ZScoreState, ZScorePoint](updates, OutputMode.Append(),
        byOrdValue, _.key, _ => ZScoreState(Array.emptyLongArray)) { (key, st, u, emit) =>
      val yc = toCents(u.value)
      val cents = st.cents
      if (cents.length == windowSize) {
        val n = windowSize.toLong
        val sy = cents.sum
        val syy = cents.map(c => c * c).sum
        val den = n * syy - sy * sy
        val z = if (den > 0L) Some((yc * n - sy).toDouble / math.sqrt(den.toDouble)) else None
        emit(ZScorePoint(key, u.ord, z, z.exists(v => math.abs(v) >= threshold)))
      }
      ZScoreState((cents :+ yc).takeRight(windowSize))
    }
  }

  /** Per-key CUSUM fold state: the two one-sided accumulators,
    * post-reset.
    */
  final case class CusumState(sp: Long, sn: Long)

  /** One CUSUM-scored event — pre-reset excursions, alarm ∈ {−1,0,1},
    * mirroring the batch row.
    */
  final case class CusumPoint(
      key: String, ord: Long, valueC: Long, cusumPos: Long, cusumNeg: Long, alarm: Long)

  /** Streaming twin of [[graft.operators.Windows.cusum]]: the
    * two-sided Page fold as O(1) state per key — two longs through
    * the state store however long the stream — quantizing dollars to
    * cents with the same BigDecimal HALF_UP Spark's `round(value·100)`
    * applies in the batch query. Both sides run
    * [[graft.operators.Windows.cusumStep]], so every emitted row is
    * BIT-IDENTICAL to the batch fold at the same (key, ord). The pure
    * integer arithmetic makes the equality exact across ANY
    * micro-batch boundary placement (no FP accumulation to diverge);
    * in-order contract as in [[rollingSlopeStream]].
    */
  def cusumStream(
      spark: SparkSession,
      updates: Dataset[Update],
      target: Long,
      slack: Long,
      threshold: Long
  ): Dataset[CusumPoint] = {
    import spark.implicits._
    val step = Windows.cusumStep(target, slack, threshold)
    KeyedFold.stream[String, Update, CusumState, CusumPoint](updates, OutputMode.Append(),
        byOrdValue, _.key, _ => CusumState(0L, 0L)) { (key, st, u, emit) =>
      val vc = toCents(u.value)
      step(st, vc, (sp, sn, alarm) => emit(CusumPoint(key, u.ord, vc, sp, sn, alarm)))
    }
  }

  /** Live two-sample drift monitor — the KS/Wasserstein twin of
    * [[psiCountsStream]]: per-value side counts `(v, c_a, c_b)` as a
    * plain streaming aggregate (exact mergeable longs, distinct
    * values × 2 longs of state — callers pre-quantize so the value
    * domain is bounded), Complete mode. Score any snapshot with
    * [[graft.operators.StatTests.ksFromCounts]] /
    * `wassersteinFromCounts` — the identical closing math, so the
    * live statistics equal the batch operators over the same rows
    * (StreamingSpec pins both). `sided` needs `v` (long) and `is_a`
    * (boolean); NULLs excluded as in batch.
    */
  def valueCountsStream(sided: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum, when}
    sided
      .filter(col("v").isNotNull && col("is_a").isNotNull)
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c_b"))
  }

  /** Live PER-KEY drift monitor — the keyed form of
    * [[valueCountsStream]] and the seam of the streaming drift
    * dashboard: per-(key, value) side counts under Complete mode,
    * exact mergeable longs with keys × distinct-values × 2 longs of
    * state (callers pre-quantize the value so each key's domain is
    * bounded). Score any snapshot with
    * [[graft.operators.StatTests.perKeyDriftFromCounts]] (KS + Cliff's
    * + W1 + PSI + JSD per key in one dashboard) or any single
    * `*ByKeyFromCounts` scorer — identical batch math, so
    * streamed-final ≡ batch per key (StreamingSpec). `sided` needs
    * `k`, `v` (long) and `is_a` (boolean); NULLs excluded as in batch.
    */
  def keyedValueCountsStream(sided: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum, when}
    sided
      .filter(col("k").isNotNull && col("v").isNotNull && col("is_a").isNotNull)
      .groupBy(col("k"), col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c_b"))
  }

  /** Live per-key crosstab — the categorical-association seam of the
    * monitor matrix: per-(key, slice, category) counts under Complete
    * mode (exact mergeable longs; keys × slices × cats of state,
    * bounded by the scorer's own 4096-cells-per-key contract). Score
    * any snapshot with
    * [[graft.operators.StatTests.chiSquareByKeyFromCounts]] —
    * identical batch math, streamed-final ≡ batch per key
    * (StreamingSpec). `labeled` needs `k`, `s`, `c` columns; NULLs
    * excluded as in batch.
    */
  def keyedCrosstabStream(labeled: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    labeled
      .filter(col("k").isNotNull && col("s").isNotNull && col("c").isNotNull)
      .groupBy(col("k"), col("s"), col("c"))
      .agg(count(lit(1)).as("n"))
  }

  /** Live mixture monitor — [[psiCountsStream]] for CATEGORICAL
    * slices: per-category (c_cur, c_ref) counts under Complete mode,
    * scoreable any time with
    * [[graft.operators.StatTests.jsDivergenceFromCounts]] (identical
    * batch math — streamed-final ≡ batch, StreamingSpec). `labeled`
    * needs `cat` (string) and `is_cur` (boolean); NULLs excluded as
    * in batch.
    */
  def categoryCountsStream(labeled: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum, when}
    labeled
      .filter(col("cat").isNotNull && col("is_cur").isNotNull)
      .groupBy(col("cat"))
      .agg(sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"),
        sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"))
  }

  /** Live classification-quality monitor — the confusion-matrix twin
    * of the sketch monitors: the (actual, pred) contingency counts as
    * a plain streaming aggregate (exact mergeable longs through the
    * state store, groups ≤ classes² however long the stream), run
    * under Complete mode so the sink table IS the current confusion
    * matrix. Grade any snapshot with
    * [[graft.llm.Classify.evalMetricsFromCounts]] — the identical
    * metric math the batch [[graft.llm.Classify.evalMetrics]] runs,
    * so the streamed-final report equals the batch report over the
    * same rows (StreamingSpec pins it).
    */
  def confusionStream(preds: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    preds.groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
  }

  /** Live drift monitor — the PSI twin of [[confusionStream]]: the
    * per-bin (c_cur, c_ref) counts as a plain streaming aggregate
    * (exact mergeable longs through the state store, bins × 2 longs
    * of state however long the stream), run under Complete mode so
    * the sink table IS the current bin histogram. Score any snapshot
    * with [[graft.operators.StatTests.psiFromCounts]] — the identical
    * math the batch operator runs, so the streamed-final PSI equals
    * the batch PSI over the same rows (StreamingSpec pins it).
    * `binned` needs `bin` (long) and `is_cur` (boolean) columns;
    * NULL rows are excluded as in the batch operator.
    */
  def psiCountsStream(binned: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum, when}
    binned
      .filter(col("bin").isNotNull && col("is_cur").isNotNull)
      .groupBy(col("bin"))
      .agg(sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"),
        sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"))
  }

  def runToMemory[T](
      spark: SparkSession,
      ds: Dataset[T],
      name: String,
      mode: OutputMode = OutputMode.Update()
  ): DataFrame = {
    CheckpointFiles.use(ds.sparkSession)
    val q = ds.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
