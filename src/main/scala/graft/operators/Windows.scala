package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.KeyedFold
import graft.streaming.StreamingFeatures.CusumState

/** Count-based per-key windows (the only window kind the reference has:
  * ralf/operators/window.py:14-124 — no time/session windows, see
  * SURVEY.md §2.4).
  *
  * Both operators need a total per-key order; the caller supplies a
  * unique, monotone `ord` column. Physical shape: one hash-partition
  * shuffle on the key + an in-partition sort (Spark's WindowExec). At
  * scale, skewed keys are the hazard — a single key's history must fit
  * one task. Mitigations documented per method.
  */
object Windows {

  private def rn(key: String, ord: Column): Column =
    row_number().over(Window.partitionBy(col(key)).orderBy(ord))

  /** Per-key count-based tumbling window of `size` records
    * (ralf/operators/window.py:14-51): buffer until `size` records
    * arrive, emit, reset. Batch formulation: bucket = (rn-1)/size;
    * only complete buckets are emitted (the reference never emits a
    * partial buffer).
    *
    * Output: key, window_id, the aggregates over the bucket, plus the
    * windowed values as an order-preserved array (mirrors ralf's
    * `window: List[Record]` column).
    */
  def tumbling(df: DataFrame, key: String, ord: Column, valueCol: Column, size: Int): DataFrame = {
    require(size > 0, "window size must be positive")
    df.withColumn("_rn", rn(key, ord))
      .withColumn("window_id", ((col("_rn") - 1) / size).cast("long"))
      .groupBy(col(key), col("window_id"))
      .agg(
        count(lit(1)).as("n"),
        // sort_array(collect_list(struct(ord, v))) → deterministic order
        transform(
          sort_array(collect_list(struct(col("_rn").as("o"), valueCol.as("v")))),
          e => e.getField("v")
        ).as("window_values"),
        min(ord).as("first_ord"),
        max(ord).as("last_ord")
      )
      .filter(col("n") === size)
      .drop("n")
  }

  /** Per-key count-based sliding window (ralf/operators/window.py:54-124):
    * emit the last `windowSize` records every `slideSize` records, i.e.
    * at rows where rn >= w and (rn - w) % s == 0. The emitted record
    * carries aggregates over the trailing window; `complete_time` /
    * `create_time` semantics collapse to the order column in batch.
    *
    * `rowsBetween(-(w-1), 0)` keeps the frame bounded — Spark's window
    * frame buffer holds at most `w` rows per task regardless of key
    * history length, so this survives 100× scale-up as long as a single
    * key's rows fit a partition (salting is the remedy for pathological
    * hot keys; not needed for this corpus).
    */
  def sliding(
      df: DataFrame,
      key: String,
      ord: Column,
      valueCol: Column,
      windowSize: Int,
      slideSize: Int
  ): DataFrame = {
    require(windowSize > 0 && slideSize > 0)
    val byKey = Window.partitionBy(col(key)).orderBy(ord)
    val frame = byKey.rowsBetween(-(windowSize - 1), 0)
    df.withColumn("_rn", row_number().over(byKey))
      .withColumn("w_avg", avg(valueCol).over(frame))
      .withColumn("w_sum", sum(valueCol).over(frame))
      .withColumn("w_min", min(valueCol).over(frame))
      .withColumn("w_max", max(valueCol).over(frame))
      .filter(col("_rn") >= windowSize && ((col("_rn") - windowSize) % slideSize) === 0)
  }

  /** Hot-key [[sliding]]: identical output, but a key's history is split
    * into contiguous ord ranges ("chunks" of `chunkSpan` ord units) and
    * the shuffle + sort are keyed by (key, chunk) — a hot key's rows
    * spread over its chunks instead of one task holding (and sorting)
    * the entire history. This is the salting remedy the plain operator's
    * scaladoc points at.
    *
    * Mechanics: each chunk also receives a replica of the PREVIOUS
    * chunk's last `windowSize - 1` rows ("carries"), so every trailing
    * frame is locally complete; a row's global per-key index — the emit
    * predicate needs it — is its local index plus the total row count of
    * prior chunks (a tiny per-(key, chunk) count aggregate, window over
    * #chunks rows per key). Carries sort strictly before owned rows
    * (their ords belong to the previous range), so local index = local
    * rank − carry count.
    *
    * Requires a numeric `ord` (chunk = floor(ord / chunkSpan)) and, for
    * correctness, every chunk of a key that has a SUCCESSOR chunk must
    * hold at least `windowSize - 1` rows and chunks must be contiguous —
    * one-hop carries can't bridge a thinner or missing middle chunk.
    * (The first chunk is exempt when thin — its full contents carry
    * forward, which IS the complete history; so is the last — nothing
    * depends on it.) `check = true` (default) verifies this with one
    * cheap count-aggregate pass and fails loudly; hot keys are dense by
    * definition, and sparse keys don't need this operator.
    */
  def saltedSliding(
      df: DataFrame,
      key: String,
      ordCol: String,
      valueCol: Column,
      windowSize: Int,
      slideSize: Int,
      chunkSpan: Long,
      check: Boolean = true
  ): DataFrame = {
    require(windowSize > 0 && slideSize > 0 && chunkSpan > 0)
    import graft.core.Names
    val cols = df.columns.toSeq
    val chunkC = Names.fresh(cols, "_chunk")
    val ownC = Names.fresh(cols :+ chunkC, "_own")
    val posC = Names.fresh(cols ++ Seq(chunkC, ownC), "_pos")
    val ncC = Names.fresh(cols ++ Seq(chunkC, ownC, posC), "_ncarry")
    val cntC = Names.fresh(cols ++ Seq(chunkC, ownC, posC, ncC), "_cnt")
    val offC = Names.fresh(cols ++ Seq(chunkC, ownC, posC, ncC, cntC), "_off")
    val ord = col(ordCol)
    val base = df.withColumn(chunkC, floor(ord / chunkSpan).cast("long"))
    val counts = base.groupBy(col(key), col(chunkC)).agg(count(lit(1)).as(cntC))

    if (check) {
      val wk = Window.partitionBy(col(key)).orderBy(col(chunkC))
      val prevC = Names.fresh(cols ++ Seq(chunkC, cntC), "_prevchunk")
      val nextC = Names.fresh(cols ++ Seq(chunkC, cntC, prevC), "_nextchunk")
      val violations = counts
        .withColumn(prevC, lag(col(chunkC), 1).over(wk))
        .withColumn(nextC, lead(col(chunkC), 1).over(wk))
        .filter(
          // a missing chunk breaks the carry chain wherever it sits...
          (col(prevC).isNotNull && col(chunkC) - col(prevC) > 1) ||
            // ...a thin one only if a later chunk depends on its carry
            (col(prevC).isNotNull && col(nextC).isNotNull && col(cntC) < windowSize - 1))
        .count()
      require(violations == 0,
        s"saltedSliding: $violations (key, chunk) groups are thinner than windowSize-1 rows " +
          "with a successor chunk, or follow a gap — one-hop carries can't bridge them; " +
          "lower chunkSpan only for dense (hot) keys, or use the plain sliding operator")
    }

    val own = base.withColumn(ownC, lit(true))
    val rdescC = Names.fresh(cols ++ Seq(chunkC, ownC), "_rdesc")
    val carries = base
      .withColumn(rdescC,
        row_number().over(Window.partitionBy(col(key), col(chunkC)).orderBy(ord.desc)))
      .filter(col(rdescC) <= windowSize - 1)
      .drop(rdescC)
      .withColumn(chunkC, col(chunkC) + 1)
      .withColumn(ownC, lit(false))
    val woff = Window.partitionBy(col(key)).orderBy(col(chunkC))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn(offC, coalesce(sum(col(cntC)).over(woff), lit(0L)))
      .drop(cntC)
    val wkc = Window.partitionBy(col(key), col(chunkC)).orderBy(ord)
    val frame = wkc.rowsBetween(-(windowSize - 1), 0)
    val grp = Window.partitionBy(col(key), col(chunkC))
    // inner join: a carry replicated past the key's last chunk has no
    // owned rows to serve and drops out here
    own.unionByName(carries).join(offsets, Seq(key, chunkC))
      .withColumn(posC, row_number().over(wkc))
      .withColumn(ncC, sum(when(!col(ownC), 1L).otherwise(0L)).over(grp))
      .withColumn("_rn", col(offC) + col(posC) - col(ncC))
      .withColumn("w_avg", avg(valueCol).over(frame))
      .withColumn("w_sum", sum(valueCol).over(frame))
      .withColumn("w_min", min(valueCol).over(frame))
      .withColumn("w_max", max(valueCol).over(frame))
      .filter(col(ownC) && col("_rn") >= windowSize &&
        ((col("_rn") - windowSize) % slideSize) === 0)
      .drop(chunkC, ownC, posC, ncC, offC)
  }

  /** Sliding window with a per-key slide size supplied as a plan table
    * (ralf/operators/window.py:88-100: per-key adaptive slide from a
    * JSON plan file). `plan` has columns (key, slide); keys absent from
    * the plan fall back to `defaultSlide`. The plan is tiny → broadcast
    * join, no extra shuffle.
    */
  def slidingPerKeyPlan(
      df: DataFrame,
      key: String,
      ord: Column,
      valueCol: Column,
      windowSize: Int,
      plan: DataFrame,
      defaultSlide: Int
  ): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(ord)
    val frame = byKey.rowsBetween(-(windowSize - 1), 0)
    df.join(broadcast(plan), Seq(key), "left")
      .withColumn("_slide", coalesce(col("slide"), lit(defaultSlide)))
      .withColumn("_rn", row_number().over(byKey))
      .withColumn("w_avg", avg(valueCol).over(frame))
      .filter(col("_rn") >= windowSize && ((col("_rn") - windowSize) % col("_slide")) === 0)
      .drop("slide")
  }

  /** Running per-key fold (v2 `Sum` transform,
    * ralf/v2/examples/counter.py:56-65): cumulative aggregate in event
    * order — `sum(...) over (partition by key order by ord rows
    * unbounded preceding)`.
    */
  def runningSum(df: DataFrame, key: String, ord: Column, valueCol: Column): DataFrame = {
    val frame = Window.partitionBy(col(key)).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("running_sum", sum(valueCol).over(frame))
      .withColumn("running_count", count(lit(1)).over(frame))
  }

  /** Trailing-window least-squares trend — the slope feature ("is this
    * key's metric rising?") a feature store serves next to the window
    * averages: per key, the OLS slope of (ord, value) over the last
    * `windowSize` rows, emitted for complete windows only.
    *
    * Cross-engine exactness by INTEGER sufficient statistics: values
    * are 2-decimal, so round(v·100) is a bit-exact cent long (the
    * tumbling-digest precedent); x is the integer ordinal. n, Σx, Σy,
    * Σxy, Σx² accumulate as exact longs over the window frame, the
    * slope numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² are
    * exact long arithmetic, and only the final division (num/den,
    * then /100 back to value units) touches doubles — identical in
    * both engines, round(,6) on output. Duplicate ordinals that
    * degenerate the window (den = 0) yield NULL, never NaN.
    *
    * Shape: one key-partitioned shuffle + in-partition sort; all five
    * statistics ride THE SAME window frame, so Spark evaluates them in
    * a single WindowExec pass.
    */
  def rollingSlope(
      df: DataFrame,
      key: String,
      ord: Column,
      valueCol: Column,
      windowSize: Int
  ): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    val frame = Window.partitionBy(col(key)).orderBy(ord)
      .rowsBetween(-(windowSize - 1), Window.currentRow)
    val seq = Window.partitionBy(col(key)).orderBy(ord)
    val x = ord.cast("long")
    val yc = round(valueCol * 100).cast("long")
    val n = count(lit(1)).over(frame)
    val sx = sum(x).over(frame)
    val sy = sum(yc).over(frame)
    val sxy = sum(x * yc).over(frame)
    val sxx = sum(x * x).over(frame)
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    df
      .withColumn("_rn", row_number().over(seq))
      .withColumn("slope",
        when(den =!= 0L, round(num.cast("double") / den.cast("double") / 100.0, 6)))
      .filter(col("_rn") >= windowSize)
      .drop("_rn")
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * key's previous event exceeds `maxGap` (in `ord` units). session_id
    * = running count of session starts per key — the classic
    * lag + cumulative-sum formulation, one shuffle + in-partition sort.
    */
  def sessionize(df: DataFrame, key: String, ord: Column, maxGap: Long): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(ord)
    val prev = lag(ord, 1).over(byKey)
    val isStart = when(prev.isNull || ord - prev > maxGap, 1L).otherwise(0L)
    df.withColumn(
      "session_id",
      sum(isStart).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1
    )
  }

  /** Exponentially time-decayed per-key aggregate — the recency-biased
    * feature every feature store serves (decayed activity counts /
    * value sums): Σ value·e^(-(t_ref − t)/halflife·ln2), with `t_ref`
    * the key's OWN newest ordinal, so a key's feature is
    * scale-invariant in absolute clock position.
    *
    * Cross-engine FP discipline: each row's decayed term is a short
    * identical IEEE chain (one exp over a double built from exact long
    * operands), quantized to DECIMAL(18,6); the per-key total is an
    * exact decimal sum — order-independent, shuffle order can't move a
    * bit. Scale shape: one key-partitioned window for the per-key max
    * ordinal + one map-side-combined aggregate — a single shuffle on
    * the key, no self-join.
    *
    * Output per key: `n_events`, `decayed_sum` (of `valueCol`),
    * `decayed_count` (value ≡ 1).
    */
  def decayedSum(
      df: DataFrame,
      key: String,
      ord: Column,
      valueCol: Column,
      halfLife: Long
  ): DataFrame = {
    require(halfLife > 0, s"halfLife must be positive, got $halfLife")
    val tRef = max(ord).over(Window.partitionBy(col(key)))
    // ln2 as the explicit double literal (= Math.log(2.0)) so the
    // oracle states the identical constant instead of trusting both
    // engines' ln(2) to round the same way
    val decay = exp((ord - tRef).cast("double") / lit(halfLife.toDouble)
      * lit(0.6931471805599453))
    df.select(col(key), ord.as("_ord"), valueCol.cast("double").as("_v"),
        round(decay * valueCol.cast("double"), 6).cast("decimal(18,6)").as("_dv"),
        round(decay, 6).cast("decimal(18,6)").as("_dc"))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("_dv")).cast("double").as("decayed_sum"),
        sum(col("_dc")).cast("double").as("decayed_count"))
  }

  /** Trailing-window z-score anomaly flagging — the streaming-shaped
    * outlier gate a feature pipeline runs per key ("is this event far
    * outside this key's recent behavior?"): each row is scored against
    * the statistics of its key's PRIOR `windowSize` rows (the current
    * row is excluded so a spike cannot mask itself), emitted only when
    * the lookback is complete.
    *
    * Cross-engine exactness by INTEGER sufficient statistics (the
    * [[rollingSlope]] discipline): values quantize to cent longs; n,
    * Σy, Σy² accumulate exactly over the frame, and
    * `z = (y·n − Σy) / sqrt(n·Σy² − (Σy)²)` touches doubles only in
    * the final sqrt and division — single IEEE ops, identical in both
    * engines, so the raw z (and the threshold compare) replays
    * bit-for-bit with no rounding. A zero-variance lookback yields
    * NULL z and a false flag, never NaN.
    *
    * Shape: one key-partitioned shuffle + in-partition sort; all three
    * statistics ride the same frame in a single WindowExec pass.
    */
  def rollingZScore(
      df: DataFrame,
      key: String,
      ord: Column,
      valueCol: Column,
      windowSize: Int,
      threshold: Double
  ): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val frame = Window.partitionBy(col(key)).orderBy(ord)
      .rowsBetween(-windowSize, -1)
    val seq = Window.partitionBy(col(key)).orderBy(ord)
    val yc = round(valueCol * 100).cast("long")
    val n = count(lit(1)).over(frame)
    val sy = sum(yc).over(frame)
    val syy = sum(yc * yc).over(frame)
    val den = n * syy - sy * sy
    df
      .withColumn("_rn", row_number().over(seq))
      .withColumn("z",
        when(den > 0L, (yc * n - sy).cast("double") / sqrt(den.cast("double"))))
      .filter(col("_rn") > windowSize)
      .withColumn("is_anomaly", coalesce(abs(col("z")) >= threshold, lit(false)))
      .drop("_rn")
  }

  /** Two-sided CUSUM change detection (Page 1954, "Continuous
    * Inspection Schemes") per key over an ordered integer stream —
    * the sequential drift alarm for feature pipelines, catching slow
    * mean shifts that [[rollingZScore]]'s fixed lookback dilutes:
    * s⁺ accumulates `max(0, s⁺ + (v − target − slack))`, s⁻ the
    * mirrored low side; a side exceeding `threshold` raises the alarm
    * (+1 high / −1 low) on that record and RESTARTS both sides at
    * zero (so one run yields every change point, not just the first).
    * Emits every record with `(cusum_pos, cusum_neg, alarm)` —
    * pre-reset statistics, so the alarm row shows the excursion that
    * tripped it.
    *
    * Exactness: the caller supplies integer-unit values (cents /
    * micro-units — the [[rollingZScore]] quantization) and integer
    * target/slack/threshold; the fold is pure long add/max/compare —
    * NO floating point anywhere — so the lockstep recursive-CTE
    * oracle ([[cusumSql]], one level per per-key record index, the
    * shedMeanPolicySql precedent) is exact by construction.
    *
    * Scale shape: the [[graft.core.KeyedFold.batch]] sort-fold — one
    * hash-partition shuffle on the key + in-partition sort, then a
    * single streaming per-partition fold carrying two longs per key (no
    * buffered history). Skewed keys: one key's history must fit a
    * task's scan, never its memory. The oracle's recursion depth is max
    * records/key — an oracle-side bound, not an operator one. The
    * streaming twin [[graft.streaming.StreamingFeatures.cusumStream]]
    * runs the same [[cusumStep]].
    *
    * NULL policy: the sort-fold's — rows with a NULL key, order, or
    * value are DROPPED up front (a NULL key would otherwise fold under
    * one phantom `null == null` state while dropping out of the
    * oracle's equi-join, and a NULL value has no meaningful CUSUM
    * contribution). [[cusumSql]] applies the same filter, so both
    * engines agree by construction.
    */
  def cusum(
      df: DataFrame,
      key: String,
      ordCol: String,
      valueCol: String,
      target: Long,
      slack: Long,
      threshold: Long
  ): DataFrame = {
    val step = cusumStep(target, slack, threshold)
    val base = df.select(col(key),
      col(ordCol).cast("long").as(ordCol), col(valueCol).cast("long").as(valueCol))
    val out = StructType(base.schema.fields ++
      Seq("cusum_pos", "cusum_neg", "alarm").map(StructField(_, LongType, nullable = false)))
    KeyedFold.batch(base, key, ordCol, valueCol, out, CusumState(0L, 0L)) { (st, row, emit) =>
      val v = row.getLong(2)
      step(st, v, (sp, sn, alarm) => emit(Row(row.get(0), row.getLong(1), v, sp, sn, alarm)))
    }
  }

  /** The [[cusum]] step, shared with its streaming twin: folds `v` into
    * the carried accumulators, passes the pre-reset
    * `(cusum_pos, cusum_neg, alarm)` to `emit`, and returns the
    * post-reset state.
    */
  private[graft] def cusumStep(target: Long, slack: Long, threshold: Long)
      : (CusumState, Long, (Long, Long, Long) => Unit) => CusumState = {
    require(slack >= 0, s"slack must be non-negative, got $slack")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    (st, v, emit) => {
      val sp1 = math.max(0L, st.sp + v - target - slack)
      val sn1 = math.max(0L, st.sn + target - v - slack)
      val alarm = if (sp1 > threshold) 1L else if (sn1 > threshold) -1L else 0L
      emit(sp1, sn1, alarm)
      if (alarm != 0L) CusumState(0L, 0L) else CusumState(sp1, sn1)
    }
  }

  /** The [[cusum]] oracle generator: `srcSql` must yield `(k, ord, v)`
    * with `v` already in integer units and `ord` unique per key; the
    * recursive CTE advances every key's fold one record per level
    * (keys in lockstep, finished keys dropping out of the join), the
    * alarm-reset CASE repeated verbatim since a recursive SELECT
    * cannot reference its own aliases.
    */
  def cusumSql(srcSql: String, target: Long, slack: Long, threshold: Long): String = {
    val up = s"GREATEST(0, f.spc + r.v - $target - $slack)"
    val dn = s"GREATEST(0, f.snc + $target - r.v - $slack)"
    val al = s"CASE WHEN $up > $threshold THEN 1 WHEN $dn > $threshold THEN -1 ELSE 0 END"
    s"""WITH RECURSIVE
       |cu_r AS MATERIALIZED (SELECT k, ord, v,
       |    row_number() OVER (PARTITION BY k ORDER BY ord) AS rn FROM ($srcSql)
       |  WHERE k IS NOT NULL AND ord IS NOT NULL AND v IS NOT NULL),
       |cu_f (k, rn, ord, v, cusum_pos, cusum_neg, alarm, spc, snc) AS (
       |  SELECT k, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |      CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |      CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |    FROM (SELECT DISTINCT k FROM cu_r)
       |  UNION ALL
       |  SELECT r.k, f.rn + 1, r.ord, r.v,
       |    CAST($up AS BIGINT), CAST($dn AS BIGINT), CAST($al AS BIGINT),
       |    CAST(CASE WHEN $al <> 0 THEN 0 ELSE $up END AS BIGINT),
       |    CAST(CASE WHEN $al <> 0 THEN 0 ELSE $dn END AS BIGINT)
       |  FROM cu_f f JOIN cu_r r ON r.k = f.k AND r.rn = f.rn + 1)
       |SELECT k, ord, v AS value, cusum_pos, cusum_neg, alarm
       |FROM cu_f WHERE rn >= 1 ORDER BY k, ord""".stripMargin
  }

  /** Equal-frequency discretization: every row gains `binName` =
    * `floor((rank − 1) · nBins / N)` over the `sortCols` total order
    * (callers tie-break by a unique id) — bin b holds ranks in
    * [b·N/nBins, (b+1)·N/nBins), so bin sizes differ by at most one
    * and the assignment is a pure function of the total order: exact,
    * engine-reproducible, and identical to DuckDB's integer replay.
    * The feature-engineering quantile cut (and the exact core an
    * approximate binning would be validated against).
    *
    * Scale shape: the two-pass [[graft.core.GlobalOrder]] rank —
    * range-repartition + in-partition sort with broadcast per-partition
    * offsets, never a single-partition window. The bin arithmetic is
    * one exact integral divide per row (N is driver-known from the
    * offset pass, so no extra action).
    */
  def quantileBins(
      df: DataFrame,
      sortCols: Seq[Column],
      nBins: Int,
      binName: String = "bin"
  ): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val rk = graft.core.Names.fresh(df.columns.toSeq :+ binName, "_qb_rank")
    val cm = graft.core.Names.fresh(df.columns.toSeq ++ Seq(binName, rk), "_qb_cum")
    val pref = graft.core.GlobalOrder.withPrefix(df, sortCols, lit(1L), cm, rk)
    pref.df
      .withColumn(binName,
        Joins.floorDiv((col(rk) - 1L) * nBins, math.max(pref.totalRows, 1L)))
      .drop(rk, cm)
  }

  /** Per-GROUP equal-frequency discretization — [[quantileBins]]
    * stratified by a group column (per-source quality bands, per-type
    * value deciles): within each group, `binName` = `floor((rank − 1)
    * · nBins / n_group)` over the `sortCols` order. Same
    * at-most-one-size-spread and pure-function-of-order guarantees,
    * per group.
    *
    * Shape: group-partitioned windows (rank + group size in one
    * WindowExec pass — a size JOIN would replan the scan), then one
    * exact integral divide per row; the partitionless-window hazard
    * does not arise because the group key is a real column. Groups
    * are assumed vocabulary-sized relative to the data (the usual
    * stratification contract; a single giant group degenerates to the
    * global sort [[quantileBins]] exists to avoid).
    */
  def groupQuantileBins(
      df: DataFrame,
      group: String,
      sortCols: Seq[Column],
      nBins: Int,
      binName: String = "bin"
  ): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val ordered = Window.partitionBy(col(group)).orderBy(sortCols: _*)
    val whole = Window.partitionBy(col(group))
    val num = (row_number().over(ordered).cast("long") - 1L) * nBins
    val den = count(lit(1)).over(whole)
    df.withColumn(binName,
      Bridge.column(IntegralDivide(
        Bridge.expression(num.cast("long")), Bridge.expression(den.cast("long")))))
  }
}
