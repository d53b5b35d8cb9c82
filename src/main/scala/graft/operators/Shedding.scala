package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KeyedFold

/** Load-shedding policies (ralf/policies/load_shedding_policy.py:6-61,
  * gate at ralf/operator.py:199-208): decide, per pending update, whether
  * to process it at all. Stateless policies become filters; policies that
  * compare against the last KEPT value are inherently sequential per key
  * and run as an ordered per-key fold.
  */
object Shedding {

  /** `make_sampling_policy(rate)` (load_shedding_policy.py:53-57):
    * Bernoulli drop. Batch-deterministic variant: keep a fixed residue
    * set of a unique id column — exactly reproducible across engines and
    * runs, unlike rand(). keepNum/modulus ≈ the sampling rate.
    */
  def sampleDeterministic(df: DataFrame, idCol: Column, modulus: Int, keepBelow: Int): DataFrame =
    df.filter(pmod(idCol, lit(modulus)) < lit(keepBelow))

  /** Deterministic per-group quota sampling — stratified corpus
    * downsampling (keep `k` docs per source/domain/language): rows rank
    * by the cross-engine hash of their id (a reproducible pseudo-random
    * draw, id as tie-break) and the best `k` per group survive. Runs on
    * the TopKPerKey bounded-heap operator: one shuffle keyed by the
    * group, O(k) state per group, no per-group sort — the plan a quota
    * sampler needs when a group holds billions of rows. Output adds the
    * ranking hash as `pick_h`.
    */
  def quotaSample(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    require(!df.columns.contains("pick_h"), "quotaSample stages a pick_h column")
    graft.plans.TopKPerKey(
      spark,
      df.withColumn("pick_h", graft.functions.GraftFunctions.strhash(col(idCol))),
      Seq(groupCol),
      Seq("pick_h" -> false, idCol -> false),
      k)
  }

  /** Deterministic proportional (stratified) sampling: keep ~`frac` of
    * each group's rows, the fraction resolved per group with a default
    * — the mixture-downsampling step that turns
    * [[graft.llm.Mixture.temperatureWeights]]'s per-source rates into an
    * actual row cut. Selection is by id-hash threshold
    * (`pmod(strhash('smp:' || id), 1e6) < frac·1e6`): reproducible
    * across runs AND engines (contrast `Dataset.sample`/`sampleBy`,
    * whose seeded Bernoulli draw is partition-order dependent),
    * join-free (the per-group thresholds fold into one codegen'd CASE —
    * a model-sized constant, like the BPE merge list), and a pure
    * narrow filter: no shuffle, pushes past column pruning to the scan.
    *
    * The draw is `strhash('smp:' || id)` SQUARED mod p: the base-31
    * polynomial alone is affine in the trailing characters, so
    * consecutive ids land in one contiguous window of the modulus (a
    * bare 3-digit id even hashes below 60k outright) and a threshold
    * cut would keep either nearly all or nearly none of a sequential id
    * range. Squaring mod p scatters consecutive hashes across the full
    * range (step 2h+1 mod p), giving the uniform per-mille draw the
    * threshold needs; the salt decorrelates the draw from
    * [[graft.llm.TextAnalysis.assignSplit]]'s buckets (a doc's sample
    * fate must not follow its train/val split).
    */
  def sampleFractions(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double
  ): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultFraction * 1000000L))) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(math.round(f * 1000000L))).otherwise(acc)
    }
    val h = graft.functions.GraftFunctions.strhash(
      concat(lit("smp:"), col(idCol).cast("string")))
    val draw = pmod(h * h, lit(1000000007L))
    df.filter(pmod(draw, lit(1000000L)) < threshold)
  }

  /** Weight-proportional sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, algorithm A-Res): every row draws the key
    * u^(1/w) — u a uniform in (0,1], w its positive weight — and the k
    * largest keys per group win, which selects each row with
    * probability proportional to its weight at every prefix. This is
    * the mixture-building draw ("sample sources by token count") that
    * [[sampleFractions]]'s per-group RATE cut cannot express: here
    * heavy docs beat light docs WITHIN a group, k is exact per group,
    * and no rate table is needed. Rows with NULL or non-positive weight
    * are dropped before the draw (p ∝ w ≤ 0 means never eligible) — the
    * A-Res key is undefined there.
    *
    * Determinism and cross-engine parity: u comes from the same
    * squared-hash draw as [[sampleFractions]] (salt `'wsmp:'`,
    * +1 so u is never 0), and rows rank by ln(u)/w — monotone in
    * u^(1/w) for w > 0, so the SAME sample, with one transcendental
    * instead of pow. The ranking key is deliberately NOT in the
    * output: both engines agree on the selected SET (a boundary tie
    * within 1 ulp would need two keys equal to ~2^-52), while the key
    * bytes themselves could differ in the last ulp between libm
    * implementations.
    *
    * Scale shape: the draw is a narrow projection; selection runs on
    * the [[graft.plans.TopKPerKey]] bounded heap — one shuffle keyed by
    * the group, O(k) state per group, no per-group sort.
    */
  def weightedSample(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weight: Column,
      k: Int
  ): DataFrame = {
    require(!df.columns.contains("es_key"), "weightedSample stages an es_key column")
    val h = graft.functions.GraftFunctions.strhash(
      concat(lit("wsmp:"), col(idCol).cast("string")))
    val u = (pmod(h * h, lit(1000000007L)) + lit(1L)).cast("double") / lit(1000000008.0)
    // non-positive weights are ineligible, not garbage (ADVICE r6): w = 0
    // made ln(u)/w = -Inf (silently unselectable) and w < 0 flipped the
    // key's sign, INVERTING the bias — drop such rows explicitly, the
    // documented "weight-proportional" contract (p ∝ w ≤ 0 means never)
    val keyed = df.filter(weight.cast("double") > 0.0)
      .withColumn("es_key", log(u) / weight.cast("double"))
    graft.plans.TopKPerKey(
      spark, keyed, Seq(groupCol), Seq("es_key" -> true, idCol -> false), k)
      .drop("es_key")
  }

  /** `newer_processing_time` / `later_complete_time`
    * (load_shedding_policy.py:10-11,60-61): drop an update unless it is
    * newer than the table's current value. Processed in arrival order
    * this keeps exactly the records that strictly increase `ord` —
    * a prefix-max filter (the reference e2e test's `drop_smaller_values`,
    * ralf/tests/test_e2e.py:118-142, is the same shape over `value`).
    */
  def keepIncreasing(df: DataFrame, key: String, arrivalOrd: Column, gateCol: Column): DataFrame = {
    val prior = Window.partitionBy(col(key)).orderBy(arrivalOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_prior_max", max(gateCol).over(prior))
      .filter(col("_prior_max").isNull || gateCol > col("_prior_max"))
      .drop("_prior_max")
  }

  /** `make_mean_policy(thresh)` (load_shedding_policy.py:41-50): drop an
    * update if its feature value moved less than `thresh` from the last
    * KEPT value. Sequential per key — each decision depends on the
    * previous decision, so no window function can express it
    * (SURVEY.md §7 hard part 2).
    *
    * Semantic adaptation, on purpose: the reference thresholds the
    * RELATIVE difference of the two records' WINDOW MEANS
    * (|cand−cur|/|cur| > thresh over mean(window)); here records carry a
    * scalar feature and the gate is the ABSOLUTE difference — the
    * sequential consume-against-last-KEPT structure (the hard part) is
    * identical. Callers needing the relative form pass a pre-divided
    * column (v/baseline) and a relative `thresh`; a windowed mean is
    * [[Windows.tumbling]] composed upstream.
    *
    * Physical plan: the [[graft.core.KeyedFold.batch]] sort-fold —
    * hash-repartition on key + in-partition sort + one streaming pass
    * with O(1) state per key in flight; rows with a NULL key, order or
    * value are dropped up front. The streaming twin
    * [[graft.streaming.StreamingFeatures.meanPolicyGate]] runs the same
    * [[meanGate]] step.
    *
    * Input must contain `key` (any type), `ordCol` (long-compatible) and
    * `valueCol` (double). Output: input columns, kept rows only.
    */
  def meanPolicyFold(
      df: DataFrame,
      key: String,
      ordCol: String,
      valueCol: String,
      thresh: Double
  ): DataFrame = {
    val valIdx = df.schema.fieldIndex(valueCol)
    KeyedFold.batch(df, key, ordCol, valueCol, df.schema, Double.NaN) { (last, row, emit) =>
      meanGate(thresh)(last, row.getDouble(valIdx))(emit(row))
    }
  }

  /** One mean-policy step: `last` is the key's last KEPT value (NaN
    * before its first record, which always processes — the KeyError
    * path in the reference gate, ralf/operator.py:203-206). Runs `keep`
    * and returns `v` when `v` moved >= thresh from it; otherwise returns
    * `last` unchanged.
    */
  private[graft] def meanGate(thresh: Double)(last: Double, v: Double)(keep: => Unit): Double =
    if (last.isNaN || math.abs(v - last) >= thresh) { keep; v } else last

  /** `make_cosine_policy(thresh)` (load_shedding_policy.py:14-38): same
    * sequential gate, but the compared feature is a vector (the current
    * window) and the distance is cosine. Input: `vecCol` is
    * Array[Double]. Keep iff cosine_distance(candidate, lastKept) >=
    * thresh (first record always kept). Same sort-fold and NULL rule as
    * [[meanPolicyFold]].
    */
  def cosinePolicyFold(
      df: DataFrame,
      key: String,
      ordCol: String,
      vecCol: String,
      thresh: Double
  ): DataFrame = {
    val vecIdx = df.schema.fieldIndex(vecCol)
    KeyedFold.batch(df, key, ordCol, vecCol, df.schema, Option.empty[Array[Double]]) {
      (last, row, emit) =>
        val v = row.getSeq[Double](vecIdx).toArray
        if (last.forall(cosineDist(v, _) >= thresh)) { emit(row); Some(v) } else last
    }
  }

  private def cosineDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
  }

  /** Processing-order policies (ralf/policies/processing_policy.py:6-24,
    * v2 FIFO/LIFO schedulers): in batch these affect only the order in
    * which updates are (notionally) applied — the final latest-wins
    * table is order-independent (SURVEY.md §2.3) — so they surface as
    * deterministic trace orderings.
    *
    * Order is the observable, and the driver's oracle compare sorts rows
    * before hashing, so these are spec-covered (OperatorSpec) rather
    * than oracle queries — an ORDER BY would be invisible to the gate.
    *
    * The reference's LIFO e2e (ralf/tests/test_e2e.py:96-115) observes
    * [1, 10, 9, ..., 2]: its eager loop grabs the first record before
    * the rest enqueue, then drains LIFO. Batch sees all records pending
    * at once, so the trace is the pure policy order (10..1) — the
    * startup race is a property of the eager runtime, not the policy.
    */
  def fifoTrace(df: DataFrame, ord: Column): DataFrame = df.orderBy(ord.asc)
  def lifoTrace(df: DataFrame, ord: Column): DataFrame = df.orderBy(ord.desc)

  /** `last_completed` (processing_policy.py:14-15): freshest record
    * first — LIFO keyed on complete_time rather than processing
    * (arrival) time. In ralf a record's `complete_time` is stamped when
    * its source emits it; records completed most recently are processed
    * first so derived features track the newest world state.
    */
  def lastCompletedTrace(df: DataFrame, completeOrd: Column): DataFrame =
    df.orderBy(completeOrd.desc)

  /** `make_sorter_with_key_weights` (processing_policy.py:18-24): static
    * key-priority ordering; weights ride in as a small map joined (or
    * inlined as a CASE) before the sort.
    */
  def keyWeightTrace(df: DataFrame, priority: Column, ord: Column): DataFrame =
    df.withColumn("priority", priority).orderBy(col("priority").desc, ord.asc)
}
