package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.FeatureFrame
import graft.operators.{Funnel, Joins, Shedding, Upsert, Windows}
import graft.sources.Sources

/** The ralf-parity query corpus (SURVEY.md §2): one named query per
  * operator, each with a DuckDB oracle. Conventions for oracle parity:
  *
  *  - `event_id` is the canonical per-key order (verified monotone with
  *    (ts, event_id) at every SF) — integer, so no timestamp-precision
  *    hazards between Spark (µs) and DuckDB (ns).
  *  - money-ish double aggregates go through DECIMAL so both engines sum
  *    exactly, then cast back to DOUBLE (identical bits both sides).
  *  - every query ends in a deterministic ORDER BY over unique columns.
  *  - row_number outputs are cast to long (DuckDB row_number is BIGINT).
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  // ---------------------------------------------------------------- map

  /** SURVEY §2.1 #1-2 (Operator.on_record / Table.map): stateless
    * per-record feature derivation, 1:1.
    */
  val mapFeature: Q = (s, dir) =>
    events(s, dir).select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      round(col("value") / 100.0, 6).as("value_scaled"),
      (col("event_type") === "purchase").cast("int").as("is_purchase"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k")
    ).orderBy("event_id")

  val mapFeatureSql: String =
    """SELECT event_id, user_id, event_type,
      |  round(value / 100.0, 6) AS value_scaled,
      |  CAST(event_type = 'purchase' AS INT) AS is_purchase,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------- upsert / queryable

  /** SURVEY §2.1 #14 + #13 bulk query: latest-wins upsert state, all
    * keys. Also the `newer_processing_time` shedding policy (§2.3) —
    * keeping only updates newer than the current value IS latest-wins.
    */
  val latestFeature: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type", "value")
    FeatureFrame.source(e, "user_id", "event_id").bulkQuery
  }

  val latestFeatureSql: String =
    """SELECT user_id, max(event_id) AS event_id,
      |  arg_max(event_type, event_id) AS event_type,
      |  arg_max(value, event_id) AS value,
      |  count(*) AS num_updates
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SURVEY §2.1 #13 point query: current value for one key. */
  val pointQuery: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type", "value")
    FeatureFrame.source(e, "user_id", "event_id").pointQuery(7L)
  }

  val pointQuerySql: String =
    """SELECT user_id, max(event_id) AS event_id,
      |  arg_max(event_type, event_id) AS event_type,
      |  arg_max(value, event_id) AS value,
      |  count(*) AS num_updates
      |FROM events WHERE user_id = 7 GROUP BY user_id""".stripMargin

  /** SCD2 feature history ([[Upsert.history]]): every user's
    * event_type version intervals — consecutive same-type updates
    * collapse into one `[valid_from, valid_to)` row, the open current
    * version carries NULL. One shuffle, two windows sharing the
    * exchange+sort (plan-pinned). The oracle states the identical
    * lag-change-filter → lead-close formulation.
    */
  val featureHistory: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type")
    Upsert.history(e, "user_id", "event_id", Seq("event_type"))
      .orderBy("user_id", "valid_from")
  }

  val featureHistorySql: String =
    """WITH s AS (
      |  SELECT user_id, event_type, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM events)
      |SELECT user_id, event_type, event_id AS valid_from,
      |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
      |FROM s WHERE event_type IS DISTINCT FROM prev
      |ORDER BY user_id, valid_from""".stripMargin

  /** Time travel against the SCD2 history ([[Upsert.asAt]]): the
    * feature table exactly as it stood at ord 500 — one interval row
    * per user active by then. asAt(history, t) ≡ latest(log ≤ t) by
    * construction (OperatorSpec pins the equivalence); on a history
    * persisted with valid_from range layout it is a pruned scan.
    */
  val featureAsAt: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type")
    Upsert.asAt(Upsert.history(e, "user_id", "event_id", Seq("event_type")), lit(500L))
      .orderBy("user_id")
  }

  val featureAsAtSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM events),
      |h AS (
      |  SELECT user_id, event_type, event_id AS valid_from,
      |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
      |  FROM s WHERE event_type IS DISTINCT FROM prev)
      |SELECT user_id, event_type, valid_from, valid_to
      |FROM h WHERE valid_from <= 500 AND (valid_to IS NULL OR 500 < valid_to)
      |ORDER BY user_id""".stripMargin

  /** Staleness report ([[Upsert.staleness]]): per-user feature age at
    * the log's global max ordinal — the reference's maintenance metric.
    * Exact integer arithmetic end to end.
    */
  val featureStaleness: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id")
    Upsert.staleness(e, "user_id", "event_id").orderBy("user_id")
  }

  val featureStalenessSql: String =
    """WITH k AS (
      |  SELECT user_id, max(event_id) AS last_ord, count(*) AS num_updates
      |  FROM events GROUP BY 1),
      |t AS (SELECT max(last_ord) AS as_of FROM k)
      |SELECT k.user_id, k.last_ord, k.num_updates,
      |  t.as_of - k.last_ord AS staleness
      |FROM k, t ORDER BY user_id""".stripMargin

  /** Shedding-regret audit: what a load-shedding policy COSTS in
    * freshness — the trade the reference's policies navigate
    * (ralf/policies/load_shedding_policy.py). The served table applies
    * the deterministic 30%-keep sample to the update log; regret per
    * key = true last ordinal − served last ordinal (0 = the shed
    * policy happened to keep the freshest update). Keys whose every
    * update was shed surface with NULL served_ord — the silent-key
    * hazard a regret audit exists to expose. Both tables are latest-
    * wins aggregates off the same scan; exact integers.
    */
  val shedRegret: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id")
    val truth = e.groupBy(col("user_id")).agg(max(col("event_id")).as("true_ord"))
    val served = Shedding.sampleDeterministic(e, col("event_id"), modulus = 10, keepBelow = 3)
      .groupBy(col("user_id").as("_su")).agg(max(col("event_id")).as("served_ord"))
    truth.join(served, col("user_id") === col("_su"), "left")
      .select(col("user_id"), col("true_ord"), col("served_ord"),
        (col("true_ord") - col("served_ord")).as("regret"))
      .orderBy("user_id")
  }

  val shedRegretSql: String =
    """WITH truth AS (
      |  SELECT user_id, max(event_id) AS true_ord FROM events GROUP BY 1),
      |served AS (
      |  SELECT user_id, max(event_id) AS served_ord
      |  FROM events WHERE event_id % 10 < 3 GROUP BY 1)
      |SELECT t.user_id, t.true_ord, s.served_ord,
      |  t.true_ord - s.served_ord AS regret
      |FROM truth t LEFT JOIN served s ON t.user_id = s.user_id
      |ORDER BY t.user_id""".stripMargin

  // ------------------------------------------------------------ windows

  /** SURVEY §2.1 #4: per-key count-based tumbling window (size 4),
    * complete windows only. The driver's checker cannot sort an array
    * column (pandas), so the query emits the order-preserved window as a
    * scalar digest: an ordered 31-fold over the exact cent values
    * (values are 2-decimal, so round(v*100) is bit-exact both engines).
    * Any content OR order error changes the digest; the raw array form
    * stays covered by OperatorSpec/PropertySpec.
    */
  val tumblingWindow: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Windows.tumbling(e, "user_id", col("event_id"), col("value"), size = 4)
      .select(
        col("user_id"), col("window_id"),
        aggregate(
          transform(col("window_values"), v => round(v * 100).cast("long")),
          lit(0L),
          (acc, x) => (acc * 31 + x) % 1000000007L
        ).as("window_digest"),
        col("first_ord"), col("last_ord"))
      .orderBy("user_id", "window_id")
  }

  val tumblingWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events)
      |SELECT user_id, (rn - 1) // 4 AS window_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list(value ORDER BY rn), wv -> CAST(round(wv * 100) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS window_digest,
      |  min(event_id) AS first_ord, max(event_id) AS last_ord
      |FROM e GROUP BY user_id, window_id HAVING count(*) = 4
      |ORDER BY user_id, window_id""".stripMargin

  /** SURVEY §2.1 #5: per-key count-based sliding window (w=5, s=2):
    * emit trailing-window aggregates at every slide point.
    */
  val slidingWindow: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Windows.sliding(e, "user_id", col("event_id"), col("value"), windowSize = 5, slideSize = 2)
      .select(
        col("user_id"), col("event_id"), col("_rn").cast("long").as("rn"),
        round(col("w_avg"), 6).as("w_avg"),
        round(col("w_sum"), 6).as("w_sum"),
        col("w_min"), col("w_max"))
      .orderBy("user_id", "event_id")
  }

  val slidingWindowSql: String =
    """SELECT user_id, event_id, rn,
      |  round(w_avg, 6) AS w_avg, round(w_sum, 6) AS w_sum, w_min, w_max
      |FROM (
      |  SELECT user_id, event_id,
      |    row_number() OVER w AS rn,
      |    avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w_avg,
      |    sum(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w_sum,
      |    min(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w_min,
      |    max(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w_max
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      |WHERE rn >= 5 AND (rn - 5) % 2 = 0
      |ORDER BY user_id, event_id""".stripMargin

  /** SURVEY §2.1 #5 per-key adaptive slide (the reference's JSON plan
    * file, ralf/operators/window.py:88-100): slide=1 for "hot" keys
    * (user_id % 10 == 0), default 3 otherwise. The plan rides in as a
    * broadcast-joined table.
    */
  val slidingPerKeyPlan: Q = (s, dir) => {
    import s.implicits._
    val e = events(s, dir).select("user_id", "event_id", "value")
    val plan = s.range(0, 200).filter(col("id") % 10 === 0)
      .select(col("id").as("user_id"), lit(1).as("slide"))
    Windows.slidingPerKeyPlan(e, "user_id", col("event_id"), col("value"),
        windowSize = 4, plan, defaultSlide = 3)
      .select(col("user_id"), col("event_id"), col("_rn").cast("long").as("rn"),
        round(col("w_avg"), 6).as("w_avg"), col("_slide").as("slide"))
      .orderBy("user_id", "event_id")
  }

  val slidingPerKeyPlanSql: String =
    """WITH plan AS (
      |  SELECT u AS user_id, 1 AS slide FROM range(0, 200) t(u) WHERE u % 10 = 0),
      |w AS (
      |  SELECT e.user_id, e.event_id, coalesce(p.slide, 3) AS slide,
      |    row_number() OVER win AS rn,
      |    avg(value) OVER (win ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w_avg
      |  FROM events e LEFT JOIN plan p USING (user_id)
      |  WINDOW win AS (PARTITION BY e.user_id ORDER BY e.event_id))
      |SELECT user_id, event_id, rn, round(w_avg, 6) AS w_avg, slide
      |FROM w WHERE rn >= 4 AND (rn - 4) % slide = 0
      |ORDER BY user_id, event_id""".stripMargin

  /** v2 `Sum` transform (SURVEY §2.2): running per-key fold. */
  val runningSum: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Windows.runningSum(e, "user_id", col("event_id"), col("value"))
      .select(col("user_id"), col("event_id"),
        round(col("running_sum"), 6).as("running_sum"), col("running_count"))
      .orderBy("user_id", "event_id")
  }

  val runningSumSql: String =
    """SELECT user_id, event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum,
      |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_count
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Trailing-window OLS trend (Windows.rollingSlope, w=8): per-user
    * slope of (event_id, value) over the last 8 events — integer
    * sufficient statistics (cent-exact y), one division at the end.
    * The oracle states the same five window sums.
    */
  val rollingSlopeQ: Q = (s, dir) =>
    Windows.rollingSlope(
        events(s, dir).select("user_id", "event_id", "value"),
        "user_id", col("event_id"), col("value"), windowSize = 8)
      .select(col("user_id"), col("event_id"), col("slope"))
      .orderBy("user_id", "event_id")

  val rollingSlopeSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER win AS rn,
      |    count(*) OVER (win ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS n,
      |    sum(event_id) OVER (win ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sx,
      |    sum(CAST(round(value * 100) AS BIGINT))
      |      OVER (win ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sy,
      |    sum(event_id * CAST(round(value * 100) AS BIGINT))
      |      OVER (win ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sxy,
      |    sum(event_id * event_id)
      |      OVER (win ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sxx
      |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, event_id,
      |  CASE WHEN n * sxx - sx * sx <> 0
      |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) END AS slope
      |FROM w WHERE rn >= 8 ORDER BY user_id, event_id""".stripMargin

  /** Trailing-window z-score anomaly flags (Windows.rollingZScore):
    * each event scored against its user's prior 20 events via integer
    * sufficient statistics; z and the 3σ flag replay bit-for-bit (no
    * rounding — sqrt and one division are single IEEE ops).
    */
  val rollingZScoreQ: Q = (s, dir) =>
    graft.operators.Windows.rollingZScore(
        events(s, dir).select("user_id", "event_id", "value"),
        "user_id", col("event_id"), col("value"), windowSize = 20, threshold = 3.0)
      .select("user_id", "event_id", "z", "is_anomaly")
      .orderBy("user_id", "event_id")

  val rollingZScoreSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS yc,
      |    row_number() OVER win AS rn,
      |    count(*) OVER (win ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS n,
      |    sum(CAST(round(value * 100) AS BIGINT))
      |      OVER (win ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sy,
      |    sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT))
      |      OVER (win ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS syy
      |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY event_id)),
      |z AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN n * syy - sy * sy > 0
      |      THEN CAST(yc * n - sy AS DOUBLE) / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
      |    END AS z
      |  FROM w WHERE rn > 20)
      |SELECT user_id, event_id, z, coalesce(abs(z) >= 3.0, false) AS is_anomaly
      |FROM z ORDER BY user_id, event_id""".stripMargin

  /** Per-user CUSUM drift alarms (Windows.cusum) over the event
    * stream: values in cents (the rollingZScore quantization), target
    * 50.00, slack 5.00, alarm at 200.00 cumulative one-sided
    * deviation with restart — pure integer fold, lockstep
    * recursive-CTE oracle.
    */
  val cusumDrift: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("value_c"))
    Windows.cusum(e, "user_id", "event_id", "value_c",
      target = 5000L, slack = 500L, threshold = 20000L)
      .orderBy("user_id", "event_id")
  }

  val cusumDriftSql: String = {
    val inner = Windows.cusumSql(
      """SELECT user_id AS k, event_id AS ord,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events""".stripMargin,
      target = 5000L, slack = 500L, threshold = 20000L)
    s"""SELECT k AS user_id, ord AS event_id, value AS value_c,
       |  cusum_pos, cusum_neg, alarm
       |FROM ($inner) ORDER BY user_id, event_id""".stripMargin
  }

  /** Two-sample KS test (StatTests.ksTest): did the purchase value
    * distribution differ from views? Values in cents (the
    * rollingZScore quantization) — integer arithmetic to one closing
    * division, both cumulatives in ONE GlobalOrder pass.
    */
  val ksDrift: Q = (s, dir) => {
    val e = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100).cast("long").as("value_c"),
        (col("event_type") === "purchase").as("is_a"))
    graft.operators.StatTests.ksTest(e, "value_c", col("is_a"))
  }

  val ksDriftSql: String = graft.operators.StatTests.ksTestSql(
    """SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |  event_type = 'purchase' AS a
      |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin)

  /** Chi-square homogeneity (StatTests.chiSquare): is the event-type
    * mix the same across the even/odd user cohorts? Densified cells
    * with floor-quantized micro-unit terms — the categorical drift
    * alarm beside ksDrift's numeric one.
    */
  val chisqEventMix: Q = (s, dir) => {
    val e = events(s, dir).select(
      when(col("user_id") % 2 === 0, "cohort_even").otherwise("cohort_odd").as("cohort"),
      col("event_type"))
    graft.operators.StatTests.chiSquare(e, "cohort", "event_type")
  }

  val chisqEventMixSql: String = graft.operators.StatTests.chiSquareSql(
    """SELECT CASE WHEN user_id % 2 = 0 THEN 'cohort_even' ELSE 'cohort_odd' END AS s,
      |  event_type AS c FROM events""".stripMargin)

  /** Population Stability Index (StatTests.psi): value distribution
    * (fixed 20-dollar bins over cents) of the even-user cohort vs the
    * odd — Laplace-smoothed, per-term round(6) DECIMAL sum.
    */
  val psiDrift: Q = (s, dir) => {
    val e = events(s, dir).select(
      floor(round(col("value") * 100).cast("long") / lit(2000L)).as("bin"),
      (col("user_id") % 2 === 0).as("is_cur"))
    graft.operators.StatTests.psi(e, col("bin"), col("is_cur"))
  }

  val psiDriftSql: String = graft.operators.StatTests.psiSql(
    """SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT) AS bin,
      |  user_id % 2 = 0 AS c FROM events""".stripMargin)

  /** Wasserstein-1 drift distance (StatTests.wasserstein): how far
    * did the purchase value distribution move relative to views, in
    * cents — the magnitude-aware companion to q_ks_drift.
    */
  val wassersteinDrift: Q = (s, dir) => {
    val e = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100).cast("long").as("value_c"),
        (col("event_type") === "purchase").as("is_a"))
    graft.operators.StatTests.wasserstein(e, "value_c", col("is_a"))
  }

  val wassersteinDriftSql: String = graft.operators.StatTests.wassersteinSql(
    """SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |  event_type = 'purchase' AS a
      |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin)

  /** One-way ANOVA (StatTests.anovaF): do mean event values differ
    * across the five event types? Cent-quantized sufficient stats,
    * integer SS decomposition, F to one closing division.
    */
  val anovaValue: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.anovaF(e, "event_type", "value_c")
  }

  val anovaValueSql: String = graft.operators.StatTests.anovaFSql(
    """SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events""")

  /** Mutual information (StatTests.mutualInfo): how much does a
    * document's source tell you about its language? The
    * dependence/leakage gauge over the documents crosstab.
    */
  val miLangSource: Q = (s, dir) =>
    graft.operators.StatTests.mutualInfo(
      Tables.load(s, dir, "documents"), "source", "lang")

  val miLangSourceSql: String = graft.operators.StatTests.mutualInfoSql(
    """SELECT source AS x, lang AS y FROM documents""")

  /** Spearman rank correlation (StatTests.spearman): does purchase
    * value trend with event order? Tie-averaged integer doubled
    * ranks, exact HUGEINT sums, doubles only in the closing ρ.
    */
  val spearmanTrend: Q = (s, dir) => {
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.spearman(e, "event_id", "value_c")
  }

  val spearmanTrendSql: String = graft.operators.StatTests.spearmanSql(
    """SELECT event_id AS x, CAST(round(value * 100) AS BIGINT) AS y
      |FROM events WHERE event_type = 'purchase'""".stripMargin)

  /** Per-key Spearman (StatTests.spearmanByKey): the value-vs-order
    * trend of q_spearman_trend fanned out over EVERY event type in one
    * pass — the monotone-association column of the per-key drift
    * matrix. Per-key windowed tie-averaged ranks (no global rank
    * stage), exact HUGEINT sums, doubles only in each key's closing ρ.
    */
  val spearmanByTypeQ: Q = (s, dir) => {
    val e = events(s, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.spearmanByKey(e, "event_type", "event_id", "value_c")
  }

  val spearmanByTypeSql: String = graft.operators.StatTests.spearmanByKeySql(
    """SELECT event_type AS k, event_id AS x,
      |  CAST(round(value * 100) AS BIGINT) AS y FROM events""".stripMargin)

  /** Pairwise Pearson correlations (StatTests.correlations): the
    * numeric-feature redundancy profile over the event stream, one
    * scan for all pairs.
    */
  val corrMatrix: Q = (s, dir) => {
    val e = events(s, dir).select(
      col("event_id"), col("user_id"),
      round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.correlations(e, Seq("event_id", "user_id", "value_c"))
  }

  val corrMatrixSql: String = graft.operators.StatTests.correlationsSql(
    """SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS value_c
      |FROM events""".stripMargin,
    Seq("event_id", "user_id", "value_c"))

  /** Poisson-bootstrap CI (StatTests.bootstrapMean): error bars on the
    * mean purchase value — 40 deterministic hash-replicates in one
    * pass, nearest-rank 95% band.
    */
  val bootstrapMeanQ: Q = (s, dir) => {
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.bootstrapMean(e, col("event_id"), "value_c")
  }

  val bootstrapMeanSqlStr: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    graft.operators.StatTests.bootstrapMeanSql(
      """SELECT event_id AS id, CAST(round(value * 100) AS BIGINT) AS v
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
      strhashSql)
  }

  /** Per-key KS fan-out (StatTests.ksByKey): the value distribution
    * of EVERY event type compared even-vs-odd user cohorts in one
    * pass — "which segment drifted", one row per type.
    */
  val ksByType: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"),
      (col("user_id") % 2 === 0).as("is_a"))
    graft.operators.StatTests.ksByKey(e, "event_type", "value_c", col("is_a"))
  }

  val ksByTypeSql: String = graft.operators.StatTests.ksByKeySql(
    """SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS v,
      |  user_id % 2 = 0 AS a FROM events""".stripMargin)

  /** Per-key Wasserstein fan-out (StatTests.wassersteinByKey): each
    * event type's cohort drift DISTANCE in cents, one pass.
    */
  val w1ByType: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"),
      (col("user_id") % 2 === 0).as("is_a"))
    graft.operators.StatTests.wassersteinByKey(e, "event_type", "value_c", col("is_a"))
  }

  val w1ByTypeSql: String = graft.operators.StatTests.wassersteinByKeySql(
    """SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS v,
      |  user_id % 2 = 0 AS a FROM events""".stripMargin)

  /** Per-key PSI fan-out (StatTests.psiByKey): each event type's
    * stability score over 20-dollar bins, one pass, no collect.
    */
  val psiByType: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      floor(round(col("value") * 100).cast("long") / lit(2000L)).as("bin"),
      (col("user_id") % 2 === 0).as("is_cur"))
    graft.operators.StatTests.psiByKey(e, "event_type", col("bin"), col("is_cur"))
  }

  val psiByTypeSql: String = graft.operators.StatTests.psiByKeySql(
    """SELECT event_type AS k,
      |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT) AS bin,
      |  user_id % 2 = 0 AS c FROM events""".stripMargin)

  /** Jensen–Shannon divergence (StatTests.jsDivergence): how far is
    * the even-cohort event-type mix from the odd's — bounded
    * symmetric nats, with both KL directions beside it.
    */
  val jsdEventMix: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      (col("user_id") % 2 === 0).as("is_cur"))
    graft.operators.StatTests.jsDivergence(e, "event_type", col("is_cur"))
  }

  val jsdEventMixSql: String = graft.operators.StatTests.jsDivergenceSql(
    """SELECT event_type AS cat, user_id % 2 = 0 AS c FROM events""")

  /** Per-key chi-square fan-out (StatTests.chiSquareByKey): for EVERY
    * event type, is the 20-dollar value-bin mix the same across the
    * even/odd cohorts? One summary row per type — completes the
    * per-key drift matrix (KS / W1 / PSI already fan out) on the
    * categorical side; fully distributed dense grid (rowTot ⋈ colTot
    * on the key), loud 4096-cells-per-key guard.
    */
  val chisqByType: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      when(col("user_id") % 2 === 0, "cohort_even").otherwise("cohort_odd").as("cohort"),
      floor(round(col("value") * 100).cast("long") / lit(2000L)).as("bin"))
    graft.operators.StatTests.chiSquareByKey(e, "event_type", "cohort", "bin")
  }

  val chisqByTypeSql: String = graft.operators.StatTests.chiSquareByKeySql(
    """SELECT event_type AS k,
      |  CASE WHEN user_id % 2 = 0 THEN 'cohort_even' ELSE 'cohort_odd' END AS s,
      |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT) AS c
      |FROM events""".stripMargin)

  /** Per-key JSD fan-out (StatTests.jsdByKey): each event type's
    * even-vs-odd value-bin divergence (both KL directions beside it),
    * per-key Laplace smoothing — the bounded-symmetric companion to
    * q_chisq_by_type in the completed drift matrix.
    */
  val jsdByType: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      floor(round(col("value") * 100).cast("long") / lit(2000L)).as("bin"),
      (col("user_id") % 2 === 0).as("is_cur"))
    graft.operators.StatTests.jsdByKey(e, "event_type", "bin", col("is_cur"))
  }

  val jsdByTypeSql: String = graft.operators.StatTests.jsdByKeySql(
    """SELECT event_type AS k,
      |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT) AS cat,
      |  user_id % 2 = 0 AS c FROM events""".stripMargin)

  /** l-diversity audit (Profile.lDiversity): the k-anonymity classes
    * re-graded on sensitive-value diversity — event_type within a
    * (user decile, value band) class must take >= 3 distinct values.
    */
  val lDiversityQ: Q = (s, dir) => {
    val e = events(s, dir).select(
      (col("user_id") % 10).as("u_decile"),
      floor(col("value") / 50.0).cast("long").as("v_band"),
      col("event_type"))
    graft.operators.Profile.lDiversity(e, Seq("u_decile", "v_band"), "event_type", l = 3)
  }

  val lDiversitySql: String =
    """SELECT user_id % 10 AS u_decile,
      |  CAST(floor(value / 50.0) AS BIGINT) AS v_band,
      |  CAST(count(*) AS BIGINT) AS class_size,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_sensitive,
      |  count(DISTINCT event_type) >= 3 AS l_diverse
      |FROM events GROUP BY 1, 2 ORDER BY u_decile, v_band""".stripMargin

  /** Benford first-digit audit (StatTests.benford): do the cent
    * values lead like natural multiplicative data? Uniform synthetic
    * values will flag nonconforming — which is the point of an audit.
    */
  val benfordValues: Q = (s, dir) => {
    val e = events(s, dir).select(round(col("value") * 100).cast("long").as("value_c"))
    graft.operators.StatTests.benford(e, "value_c")
  }

  val benfordValuesSql: String = graft.operators.StatTests.benfordSql(
    """SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events""")

  /** Source concentration audit (StatTests.concentration): HHI /
    * effective sources / Gini of the documents-per-source spread.
    */
  val sourceConcentration: Q = (s, dir) =>
    graft.operators.StatTests.concentration(Tables.documents(s, dir), "source")

  val sourceConcentrationSql: String = graft.operators.StatTests.concentrationSql(
    """SELECT source AS g FROM documents""")

  /** Drift-report capstone: the whole statistical monitoring family —
    * KS, Wasserstein, chi-square + Cramér's V, JSD, PSI, ANOVA,
    * Spearman — over the event stream in ONE constant-size report, the
    * nightly "did anything move" dashboard a feature-store monitor
    * alarms on. Each metric is its already-oracled operator's scalar;
    * the replicated-total columns collapse via max (all rows carry
    * the same value by construction).
    */
  val driftReport: Q = (s, dir) => {
    import graft.operators.StatTests
    // the corpus is touched ONCE: every family member derives from this
    // checkpointed 4-column projection (7 independent scans otherwise —
    // the totals-join lesson at dashboard scale)
    val base = events(s, dir).select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"),
      (col("user_id") % 2 === 0).as("is_even"))
      .localCheckpoint(false)
    val twoSided = base
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("value_c"), (col("event_type") === "purchase").as("is_a"))
    val cohorts = base.select(
      when(col("is_even"), "cohort_even").otherwise("cohort_odd").as("cohort"),
      col("event_type"),
      floor(col("value_c") / lit(2000L)).as("bin"),
      col("is_even").as("is_cur"),
      col("value_c"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value_c"))
    def one(name: String, df: DataFrame, value: org.apache.spark.sql.Column): DataFrame =
      df.select(lit(name).as("metric"), value.cast("double").as("value"))
    val chi = StatTests.chiSquare(cohorts, "cohort", "event_type")
    one("anova_f", StatTests.anovaF(cohorts, "event_type", "value_c"), col("f"))
      .unionAll(one("chi2", chi.agg(max(col("chi2")).as("v")), col("v")))
      .unionAll(one("cramers_v", chi.agg(max(col("cramers_v")).as("v")), col("v")))
      .unionAll(one("jsd",
        StatTests.jsDivergence(cohorts.select(col("event_type"), col("is_cur")),
          "event_type", col("is_cur")).agg(max(col("jsd")).as("v")),
        col("v")))
      .unionAll(one("ks_d", StatTests.ksTest(twoSided, "value_c", col("is_a")), col("d")))
      .unionAll(one("psi",
        StatTests.psi(cohorts, col("bin"), col("is_cur")).agg(max(col("psi")).as("v")),
        col("v")))
      .unionAll(one("spearman_rho",
        StatTests.spearman(purchases, "event_id", "value_c"), col("rho")))
      .unionAll(one("wasserstein",
        StatTests.wasserstein(twoSided, "value_c", col("is_a")), col("w1")))
      .orderBy("metric")
  }

  val driftReportSql: String = {
    def one(name: String, inner: String, value: String): String =
      s"SELECT '$name' AS metric, CAST($value AS DOUBLE) AS value FROM ($inner)"
    Seq(
      one("anova_f", graft.operators.StatTests.anovaFSql(
        """SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events"""),
        "f"),
      one("chi2", chisqEventMixSql, "max(chi2)"),
      one("cramers_v", chisqEventMixSql, "max(cramers_v)"),
      one("jsd", jsdEventMixSql, "max(jsd)"),
      one("ks_d", ksDriftSql, "d"),
      one("psi", psiDriftSql, "max(psi)"),
      one("spearman_rho", spearmanTrendSql, "rho"),
      one("wasserstein", wassersteinDriftSql, "w1")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY metric")
  }

  /** Per-key drift dashboard capstone (StatTests.perKeyDrift): every
    * event type's KS distance, Cliff's delta, W1, PSI and JSD in one
    * row — the keyed twin of q_drift_report, derived from ONE
    * per-(type, cent-value) counts table (PSI/JSD re-bin it at 2000
    * cents). The oracle joins the four already-proven by-key
    * generators on the key.
    */
  val driftByKey: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"),
      (col("user_id") % 2 === 0).as("is_a"))
    graft.operators.StatTests.perKeyDrift(e, "event_type", "value_c", col("is_a"),
      binWidth = 2000L)
  }

  val driftByKeySql: String = {
    val src =
      """SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS v,
        |  user_id % 2 = 0 AS a FROM events""".stripMargin
    val srcPsi =
      """SELECT event_type AS k,
        |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT) AS bin,
        |  user_id % 2 = 0 AS c FROM events""".stripMargin
    val srcJsd =
      """SELECT event_type AS k,
        |  CAST(CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT)
        |    AS VARCHAR) AS cat,
        |  user_id % 2 = 0 AS c FROM events""".stripMargin
    s"""SELECT ks.key, ks.n_a, ks.n_b, ks.d, ks.cliffs_delta, w.w1, p.psi, j.jsd
       |FROM (${graft.operators.StatTests.ksByKeySql(src)}) ks
       |JOIN (${graft.operators.StatTests.wassersteinByKeySql(src)}) w ON w.key = ks.key
       |JOIN (${graft.operators.StatTests.psiByKeySql(srcPsi)}) p ON p.key = ks.key
       |JOIN (${graft.operators.StatTests.jsdByKeySql(srcJsd)}) j ON j.key = ks.key
       |ORDER BY ks.key""".stripMargin
  }

  /** Gap-based sessionization over the event stream (event_id gap > 40
    * starts a new session), rolled up to per-session stats.
    */
  val sessionize: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Windows.sessionize(e, "user_id", col("event_id"), maxGap = 40L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value")
      )
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN lag(event_id) OVER w IS NULL
      |           OR event_id - lag(event_id) OVER w > 40 THEN 1 ELSE 0 END AS is_start
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |s AS (
      |  SELECT user_id, event_id, value,
      |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(event_id) AS first_event, max(event_id) AS last_event,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** Per-key distribution features: exact interpolated percentiles of
    * the event value per user. Spark's `percentile` and DuckDB's
    * `quantile_cont` share the same linear-interpolation definition, so
    * doubles match bit-for-bit. Exact percentile sorts within each
    * group (fine for bounded per-key history); `percentile_approx`
    * (t-digest, mergeable partials) is the drop-in at unbounded scale.
    */
  val percentileFeatures: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "value")
    e.groupBy(col("user_id"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        max(col("value")).as("vmax"),
        count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  val percentileFeaturesSql: String =
    """SELECT user_id, quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95, max(value) AS vmax, count(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------- joins

  /** SURVEY §2.1 #3 steady state: left stream enriched with the right
    * side's latest value per key (feature join). Right side reduces to
    * latest-per-key BEFORE the join and broadcasts.
    */
  val enrichLatestJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val left = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "value")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "value")
    val latestP = Upsert.latest(purchases, "user_id", col("event_id"))
      .select(col("user_id").as("p_user_id"),
        col("value").as("user_last_purchase"),
        col("num_updates").as("user_purchase_count"))
    left.join(broadcast(latestP), left("user_id") === latestP("p_user_id"), "left")
      .select(col("event_id"), col("user_id"), col("value"),
        col("user_last_purchase"), col("user_purchase_count"))
      .orderBy("event_id")
  }

  val enrichLatestJoinSql: String =
    """WITH p AS (
      |  SELECT user_id, arg_max(value, event_id) AS user_last_purchase,
      |         count(*) AS user_purchase_count
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT e.event_id, e.user_id, e.value, p.user_last_purchase, p.user_purchase_count
      |FROM events e LEFT JOIN p USING (user_id)
      |WHERE e.event_type = 'view' ORDER BY e.event_id""".stripMargin

  /** SURVEY §2.1 #3 exact buffer semantics: consume-once pairing — the
    * i-th purchase of a user pairs with the i-th click of that user.
    */
  val sequenceJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val left = e.filter(col("event_type") === "purchase").select("user_id", "event_id", "value")
    val right = e.filter(col("event_type") === "click").select("user_id", "event_id", "value")
    Joins.sequenceJoin(left, right, "user_id", "event_id", "event_id")
      .select(
        col("l_user_id").as("user_id"), col("_seq").cast("long").as("seq"),
        col("l_event_id"), col("l_value"), col("r_event_id"), col("r_value"))
      .orderBy("user_id", "seq")
  }

  val sequenceJoinSql: String =
    """WITH l AS (
      |  SELECT user_id, event_id AS l_event_id, value AS l_value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, event_id AS r_event_id, value AS r_value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events WHERE event_type = 'click')
      |SELECT user_id, seq, l_event_id, l_value, r_event_id, r_value
      |FROM l JOIN r USING (user_id, seq)
      |ORDER BY user_id, seq""".stripMargin

  /** Keyed left join against a dimension table (broadcast hash join). */
  val dimJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    Joins.dimLeftJoin(o, c, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_name"), col("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  val dimJoinSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Point-in-time enrichment: every event gets the user's latest
    * PURCHASE value at-or-before that event (training-data as-of join;
    * no future leakage). The oracle mirrors the union + running
    * last-non-null formulation, so values pass through untouched —
    * bit-exact without rounding.
    */
  val asofJoin: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type", "value")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_ord"), col("value").as("p_value"))
    Joins.asOfJoin(
      e.select("user_id", "event_id"), purchases,
      "user_id", "event_id", "p_ord", "p_value", asOfCol = "last_purchase")
      .orderBy("user_id", "event_id")
  }

  /** Training-set assembly ([[Joins.trainingSet]]): every purchase
    * (the label spine) enriched with three point-in-time features from
    * independently-updating timelines — the latest view value, the
    * latest click value, and the user's running event count (a DERIVED
    * timeline the engine computes first) — all as-of the purchase, in
    * ONE shuffle + ONE window pass. The oracle mirrors the
    * union + per-column running last-non-null formulation; values pass
    * through untouched, so the frame is bit-exact. The activity
    * timeline has a row AT the purchase ordinal (the purchase is
    * itself an event), and features at the spine ordinal are visible,
    * so f_activity counts events INCLUDING the purchase.
    */
  val trainingSet: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "event_type", "value")
    val spine = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value").as("label"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("ord"), col("value").as("v"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("ord"), col("value").as("v"))
    val activity = e.select(col("user_id"), col("event_id").as("ord"),
      count(lit(1)).over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("n"))
    Joins.trainingSet(spine, "user_id", "event_id", Seq(
        Joins.FeatureTimeline(views, "ord", "v", "f_last_view"),
        Joins.FeatureTimeline(clicks, "ord", "v", "f_last_click"),
        Joins.FeatureTimeline(activity, "ord", "n", "f_activity")))
      .orderBy("user_id", "event_id")
  }

  val trainingSetSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value FROM events),
      |act AS (
      |  SELECT user_id, event_id,
      |    count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      |  FROM e),
      |u AS (
      |  SELECT user_id, event_id, value AS label, event_id AS ord, 0 AS ir,
      |    CAST(NULL AS DOUBLE) AS f_last_view,
      |    CAST(NULL AS DOUBLE) AS f_last_click,
      |    CAST(NULL AS BIGINT) AS f_activity
      |  FROM e WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), event_id, 1,
      |    value, NULL, NULL FROM e WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, NULL, NULL, event_id, 1,
      |    NULL, value, NULL FROM e WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, NULL, NULL, event_id, 1,
      |    NULL, NULL, n FROM act),
      |w AS (
      |  SELECT user_id, event_id, label, ir,
      |    last_value(f_last_view IGNORE NULLS) OVER win AS f_last_view,
      |    last_value(f_last_click IGNORE NULLS) OVER win AS f_last_click,
      |    last_value(f_activity IGNORE NULLS) OVER win AS f_activity
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ord ASC, ir DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, label, f_last_view, f_last_click, f_activity
      |FROM w WHERE ir = 0
      |ORDER BY user_id, event_id""".stripMargin

  /** Bucketed range join (Joins.rangeJoin): the attribution-window
    * query — every event landing in the 50-id window after a same-user
    * purchase. The oracle states the plain BETWEEN join; the Spark side
    * earns the same rows from the (key, bucket) equi-join plan.
    */
  val rangeJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val windows = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        (col("event_id") + 1).as("w_start"), (col("event_id") + 50).as("w_end"))
    Joins.rangeJoin(
        e.select(col("user_id"), col("event_id"), col("value")), windows,
        "user_id", "event_id", "w_start", "w_end", bucketWidth = 64)
      .select(col("user_id"), col("p_id"), col("event_id"), col("value"))
      .orderBy("user_id", "p_id", "event_id")
  }

  val rangeJoinSql: String =
    """SELECT e.user_id, p.p_id, e.event_id, e.value
      |FROM events e
      |JOIN (SELECT user_id, event_id AS p_id, event_id + 1 AS ws, event_id + 50 AS we
      |      FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.event_id BETWEEN p.ws AND p.we
      |ORDER BY 1, 2, 3""".stripMargin

  /** Bucketed interval-overlap join (Joins.intervalJoin): same-user
    * view windows ([id, id+40]) against purchase windows ([id, id+50])
    * that overlap — both sides are ranges, so the oracle states the
    * two-sided overlap predicate while the Spark side earns the rows
    * from the dedup-free (key, bucket) equi-join plan.
    */
  val intervalJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("event_id").as("v_start"), (col("event_id") + 40).as("v_end"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("event_id").as("p_start"), (col("event_id") + 50).as("p_end"))
    Joins.intervalJoin(views, purchases,
        "user_id", "v_start", "v_end", "p_start", "p_end", bucketWidth = 64)
      .select(col("user_id"), col("v_id"), col("p_id"),
        greatest(col("v_start"), col("p_start")).as("ov_start"),
        least(col("v_end"), col("p_end")).as("ov_end"))
      .orderBy("user_id", "v_id", "p_id")
  }

  /** Exponentially decayed per-user features (Windows.decayedSum): the
    * recency-biased activity aggregate a feature store serves, anchored
    * at each user's own newest event. Per-row decay terms quantize to
    * DECIMAL(18,6) (the shared ln2 literal is stated in BOTH engines),
    * per-user totals are exact decimal sums.
    */
  val decayedFeatures: Q = (s, dir) =>
    Windows.decayedSum(events(s, dir), "user_id", col("event_id"),
        col("value"), halfLife = 500L)
      .orderBy("user_id")

  val decayedFeaturesSql: String =
    """WITH m AS (
      |  SELECT user_id, event_id, value,
      |    max(event_id) OVER (PARTITION BY user_id) AS tref FROM events),
      |t AS (SELECT user_id,
      |  CAST(round(exp(CAST(event_id - tref AS DOUBLE) / 500.0 * 0.6931471805599453)
      |    * value, 6) AS DECIMAL(18,6)) AS dv,
      |  CAST(round(exp(CAST(event_id - tref AS DOUBLE) / 500.0 * 0.6931471805599453),
      |    6) AS DECIMAL(18,6)) AS dc
      |  FROM m)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(dv) AS DOUBLE) AS decayed_sum,
      |  CAST(sum(dc) AS DOUBLE) AS decayed_count
      |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Ordered conversion funnel (Funnel.ordered): view → click →
    * purchase per user by greedy earliest completion; the oracle
    * replays each stage with a min-after-previous join chain.
    */
  val eventFunnel: Q = (s, dir) =>
    Funnel.ordered(events(s, dir), "user_id", col("event_id"),
        col("event_type"), Seq("view", "click", "purchase"))
      .orderBy("user_id")

  val eventFunnelSql: String =
    """WITH base AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
      |s0 AS (SELECT user_id, min(event_id) AS step0_ord
      |       FROM events WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(event_id) AS step1_ord
      |       FROM events e JOIN s0 USING (user_id)
      |       WHERE event_type = 'click' AND event_id > step0_ord GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(event_id) AS step2_ord
      |       FROM events e JOIN s1 USING (user_id)
      |       WHERE event_type = 'purchase' AND event_id > step1_ord GROUP BY 1)
      |SELECT base.user_id, CAST(n_events AS BIGINT) AS n_events,
      |  step0_ord, step1_ord, step2_ord
      |FROM base LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
      |  LEFT JOIN s2 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Per-type value quartiles (Windows.groupQuantileBins): stratified
    * equal-frequency bands, summarized per (event_type, bin). The
    * oracle replays the within-group (rank−1)·4 // n cut.
    */
  val groupQuantileBinsQ: Q = (s, dir) =>
    graft.operators.Windows.groupQuantileBins(
        events(s, dir).select(col("event_type"), col("event_id"), col("value")),
        "event_type", Seq(col("value"), col("event_id")), nBins = 4)
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      .orderBy("event_type", "bin")

  val groupQuantileBinsSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, (rk - 1) * 4 // n AS bin, count(*) AS n_rows,
      |  min(value) AS vmin, max(value) AS vmax
      |FROM r GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  /** Per-column Shannon entropy (Profile.entropy) over the
    * hash-stable events columns — one stacked scan, per-value terms
    * quantized round(6)→DECIMAL, exact sums.
    */
  val columnEntropy: Q = (s, dir) =>
    graft.operators.Profile.entropy(events(s, dir), Seq("event_type", "user_id", "event_id"))
      .orderBy("col_name")

  val columnEntropySql: String =
    """WITH st AS (
      |  SELECT 'event_type' AS c, CAST(event_type AS VARCHAR) AS v FROM events
      |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      |  UNION ALL SELECT 'event_id', CAST(event_id AS VARCHAR) FROM events),
      |cnts AS (SELECT c, v, count(*) AS cnt FROM st GROUP BY 1, 2),
      |tot AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS n, count(*) AS n_distinct
      |        FROM cnts GROUP BY 1)
      |SELECT c AS col_name, n AS n_rows, CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CAST(sum(term) AS DOUBLE) AS entropy
      |FROM (
      |  SELECT cnts.c, tot.n, tot.n_distinct,
      |    CAST(round((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
      |  FROM cnts JOIN tot USING (c)) t
      |GROUP BY 1, n, n_distinct ORDER BY 1""".stripMargin

  /** Equal-frequency decile binning (Windows.quantileBins) of event
    * values — two-pass GlobalOrder rank, exact integral bin
    * arithmetic — summarized per bin. The oracle replays the
    * (rank−1)·B // N cut over the same (value, event_id) total order.
    */
  val quantileBinsQ: Q = (s, dir) =>
    graft.operators.Windows.quantileBins(
        events(s, dir).select(col("event_id"), col("user_id"), col("value")),
        Seq(col("value"), col("event_id")), nBins = 10)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("value")).as("vmin"),
        max(col("value")).as("vmax"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("bin")

  val quantileBinsSql: String =
    """WITH r AS (
      |  SELECT user_id, value,
      |    row_number() OVER (ORDER BY value, event_id) AS rk,
      |    count(*) OVER () AS n
      |  FROM events)
      |SELECT (rk - 1) * 10 // n AS bin, count(*) AS n_rows,
      |  min(value) AS vmin, max(value) AS vmax,
      |  count(DISTINCT user_id) AS n_users
      |FROM r GROUP BY 1 ORDER BY bin""".stripMargin

  /** Event-type transition matrix (Funnel.transitions): adjacent-pair
    * counts per user stream and the conditional P(to | from) — one
    * window pass, one aggregate, one division.
    */
  val eventTransitions: Q = (s, dir) =>
    Funnel.transitions(events(s, dir).select("user_id", "event_id", "event_type"),
        "user_id", col("event_id"), col("event_type"))
      .orderBy("from_type", "to_type")

  val eventTransitionsSql: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Kaplan–Meier churn survival (Funnel.kaplanMeier): customer
    * lifetime = months between first and last order; a customer last
    * seen within 2 months of the corpus end is CENSORED (leaves the
    * risk set without counting as churn). Survival folds period by
    * period in BIGINT nano-units — floor(s·(n−d)/n + 0.5), the
    * pageRank fixed-point step — so the recursive-CTE oracle agrees
    * bit-for-bit.
    */
  val churnSurvival: Q = (s, dir) =>
    Funnel.kaplanMeier(
      Tables.orders(s, dir),
      "o_custkey",
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"),
      gracePeriods = 2L)

  val churnSurvivalSql: String =
    Funnel.kaplanMeierSql(
      """SELECT o_custkey AS k,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        |FROM orders""".stripMargin,
      gracePeriods = 2L)

  /** Nelson–Aalen cumulative churn hazard (Funnel.nelsonAalen): the
    * KM sibling over the same customer lifetimes — additive hazard
    * force instead of multiplicative survival. Increments quantize
    * independently (floor(1e9·d/n + .5)) and the cumulative is an
    * exact long sum, so the oracle is a dense-spine window cumsum —
    * no recursion.
    */
  val churnHazard: Q = (s, dir) =>
    Funnel.nelsonAalen(
      Tables.orders(s, dir),
      "o_custkey",
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"),
      gracePeriods = 2L)

  val churnHazardSql: String =
    Funnel.nelsonAalenSql(
      """SELECT o_custkey AS k,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        |FROM orders""".stripMargin,
      gracePeriods = 2L)

  /** Cohort retention matrix (Funnel.cohortRetention): users cohorted
    * by first-activity period (event_id floor-div 1000), each
    * (cohort, offset) cell the count and rate of that cohort active
    * `offset` periods later. Integer counts; the rate is one IEEE
    * division, never rounded.
    */
  val cohortRetention: Q = (s, dir) =>
    Funnel.cohortRetention(events(s, dir), "user_id", col("event_id"), periodSize = 1000L)
      .orderBy("cohort", "offset")

  val cohortRetentionSql: String =
    """WITH up AS (SELECT DISTINCT user_id AS u, event_id // 1000 AS p FROM events),
      |coh AS (SELECT u, min(p) AS cohort FROM up GROUP BY u),
      |sizes AS (SELECT cohort, count(*) AS cohort_users FROM coh GROUP BY 1),
      |cells AS (
      |  SELECT coh.cohort, up.p - coh.cohort AS "offset", count(*) AS active_users
      |  FROM up JOIN coh USING (u) GROUP BY 1, 2)
      |SELECT cells.cohort, cells."offset",
      |  CAST(sizes.cohort_users AS BIGINT) AS cohort_users,
      |  CAST(cells.active_users AS BIGINT) AS active_users,
      |  CAST(active_users AS DOUBLE) / CAST(cohort_users AS DOUBLE) AS retention
      |FROM cells JOIN sizes USING (cohort)
      |ORDER BY cohort, cells."offset"""".stripMargin

  /** One-pass table profile (Profile.profile) over the hash-stable
    * events columns: row/null counts, KMV distinct estimates, numeric
    * min/max — all columns in one aggregate over one scan. The oracle
    * replays the bottom-64 KMV estimate per column.
    */
  val profileEvents: Q = (s, dir) =>
    graft.operators.Profile.profile(
        events(s, dir), Seq("event_id", "user_id", "event_type", "props"))
      .orderBy("col_name")

  val profileEventsSql: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    def one(c: String): String =
      s"""SELECT '$c' AS col_name,
         |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE $c IS NULL) AS n_nulls,
         |  (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |     ELSE CAST(${63L * p} AS DOUBLE) / CAST(max(x) AS DOUBLE) END
         |   FROM (SELECT DISTINCT ${strhashSql(s"CAST($c AS VARCHAR)", "h")} AS x
         |         FROM events WHERE $c IS NOT NULL ORDER BY x LIMIT 64)) AS est_distinct,
         |  (SELECT min(TRY_CAST($c AS DOUBLE)) FROM events) AS min_val,
         |  (SELECT max(TRY_CAST($c AS DOUBLE)) FROM events) AS max_val""".stripMargin
    Seq("event_id", "user_id", "event_type", "props").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Profile drift report (Profile.drift): the current events table
    * against a half-size "previous snapshot" (event_id % 2 = 0) — per
    * column, both sides' row counts / null rates / KMV distinct
    * estimates plus the null-rate delta and distinct ratio. The oracle
    * replays both profiles (the q_profile_events machinery per side)
    * and the same single-division rates.
    */
  val profileDrift: Q = (s, dir) =>
    graft.operators.Profile.drift(
        events(s, dir),
        events(s, dir).filter(col("event_id") % 2 === 0),
        Seq("event_id", "event_type", "props"))
      .orderBy("col_name")

  val profileDriftSql: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    def side(c: String, from: String, v: String): String =
      s"""(SELECT CAST(count(*) AS BIGINT) FROM $from) AS n_rows_$v,
         |  CASE WHEN (SELECT count(*) FROM $from) > 0 THEN
         |    CAST((SELECT CAST(count(*) AS BIGINT) FROM $from WHERE $c IS NULL) AS DOUBLE)
         |      / CAST((SELECT CAST(count(*) AS BIGINT) FROM $from) AS DOUBLE) END AS null_rate_$v,
         |  (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |     ELSE CAST(${63L * p} AS DOUBLE) / CAST(max(x) AS DOUBLE) END
         |   FROM (SELECT DISTINCT ${strhashSql(s"CAST($c AS VARCHAR)", v + "h")} AS x
         |         FROM $from WHERE $c IS NOT NULL ORDER BY x LIMIT 64)) AS est_distinct_$v""".stripMargin
    val prev = "(SELECT * FROM events WHERE event_id % 2 = 0)"
    // deltas derive in an OUTER select: DuckDB rejects lateral alias
    // references whose expressions contain subqueries
    def one(c: String): String =
      s"""SELECT *, null_rate_cur - null_rate_prev AS null_rate_delta,
         |  CASE WHEN est_distinct_prev > 0
         |    THEN est_distinct_cur / est_distinct_prev END AS distinct_ratio
         |FROM (SELECT '$c' AS col_name,
         |  ${side(c, "events", "cur")},
         |  ${side(c, prev, "prev")}) t_$c""".stripMargin
    Seq("event_id", "event_type", "props").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Skew-salted equi-join (Joins.saltedJoin): events (salted by
    * event_id) against a per-user aggregate table — row-for-row the
    * plain join, partitioned hot-key-safe. The oracle states the plain
    * join.
    */
  val saltedJoinQ: Q = (s, dir) => {
    val e = events(s, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"),
        // exact decimal sum: a shuffle-order double sum would not
        // hash-match the oracle
        sum(col("value").cast("decimal(18,6)")).cast("double").as("user_value"))
    Joins.saltedJoin(
        e.select(col("user_id"), col("event_id"), col("event_type")),
        perUser, "user_id", col("event_id"), saltFactor = 8)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("user_events"), col("user_value"))
      .orderBy("user_id", "event_id")
  }

  val saltedJoinSql: String =
    """SELECT e.user_id, e.event_id, u.user_events, u.user_value
      |FROM events e
      |JOIN (SELECT user_id, count(*) AS user_events,
      |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS user_value
      |      FROM events GROUP BY 1) u USING (user_id)
      |WHERE e.event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  /** Fuzzy entity-resolution self-join (Joins.fuzzySelfPairs): all
    * title pairs within 1 Levenshtein edit, found via deletion-
    * neighborhood (FastSS/SymSpell) blocking + exact confirm. Titles
    * are each document's first 4 words; every third doc gets a planted
    * mutated twin (append / first-char drop / first-char substitution,
    * one per residue class) so all three edit kinds appear. The oracle
    * is the NAIVE all-pairs Levenshtein join — the blocking must be a
    * lossless superset, so the outputs are identical (the
    * q_range_join adjudication pattern).
    */
  val fuzzyJoinQ: Q = (s, dir) => {
    val titles0 = Tables.documents(s, dir).select(
      col("doc_id"),
      concat_ws(" ",
        slice(filter(split(col("text"), " "), w => w =!= ""), 1, 4)).as("title"))
    val base = titles0.select(col("doc_id").as("id"), col("title"))
    val mutated = titles0.filter(col("doc_id") % 3 === 0).select(
      (col("doc_id") + 1000000L).as("id"),
      when(col("doc_id") % 9 === 0, concat(col("title"), lit("x")))
        .when(col("doc_id") % 9 === 3, expr("substring(title, 2)"))
        .otherwise(concat(lit("z"), expr("substring(title, 2)"))).as("title"))
    Joins.fuzzySelfPairs(base.unionAll(mutated), "id", "title", maxDist = 1)
      .orderBy("id_a", "id_b")
  }

  val fuzzyJoinSql: String =
    """WITH t0 AS (SELECT doc_id,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), fw -> fw <> ''), 1, 4), ' ') AS title
      |  FROM documents),
      |base AS (SELECT doc_id AS id, title FROM t0),
      |m AS (SELECT doc_id + 1000000 AS id,
      |    CASE WHEN doc_id % 9 = 0 THEN title || 'x'
      |         WHEN doc_id % 9 = 3 THEN substring(title, 2)
      |         ELSE 'z' || substring(title, 2) END AS title
      |  FROM t0 WHERE doc_id % 3 = 0),
      |c AS (SELECT * FROM base UNION ALL SELECT * FROM m)
      |SELECT a.id AS id_a, b.id AS id_b, a.title AS str_a, b.title AS str_b,
      |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
      |FROM c a JOIN c b ON a.id < b.id
      |WHERE levenshtein(a.title, b.title) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  /** PageRank over the customer↔supplier trade graph (Graph.pageRank):
    * 5 damped power iterations on the bipartite who-buys-from-whom
    * edge list (both directions, so the walk is ergodic), node ids
    * encoded 2·custkey / 2·suppkey+1. The oracle unrolls all five
    * iterations with the identical quantization, generated by
    * Graph.pageRankSql from the same constants.
    */
  val pageRankQ: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir), "src", "dst").ranks(5)
      .orderBy("node")

  /** The customer→supplier trade graph shared by the graph demos: one
    * `(src, dst)` edge per lineitem, node ids 2·custkey / 2·suppkey+1.
    * `weight`, an expression over the orders ⋈ lineitem row, adds a
    * `w` column; `symmetric` adds every edge reversed (the undirected
    * form the walks and BFS run on) off one scan of the join.
    */
  private def tradeEdges(
      s: SparkSession,
      dir: String,
      weight: Option[Column] = None,
      symmetric: Boolean = true
  ): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val cs = o.join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src") +: (col("l_suppkey") * 2 + 1).as("dst") +:
        weight.map(_.as("w")).toSeq: _*)
    if (symmetric) graft.operators.Graph.bothWays(cs, "src", "dst") else cs
  }

  /** [[tradeEdges]] as oracle SQL; `weight` is a SQL expression. */
  private def tradeEdgesSql(weight: Option[String] = None, symmetric: Boolean = true): String = {
    val w = weight.fold("")(e => s", $e AS w")
    val cs = s"""SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst$w
                |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
    if (!symmetric) cs
    else s"$cs UNION ALL SELECT dst, src${weight.fold("")(_ => ", w")} FROM ($cs)"
  }

  /** The nation-0 suppliers as trade-graph `node`s: the trusted seed
    * set of the personalized walks and the BFS proximity demos.
    */
  private def nationZeroSeeds(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).filter(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))

  private val nationZeroSeedsSql: String =
    "SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0"

  val pageRankSql: String =
    graft.operators.Graph.pageRankSql(tradeEdgesSql(), iters = 5)

  /** Personalized PageRank (Graph.pageRank with seeds): the restart
    * mass concentrates on nation-0 suppliers, so ranks measure
    * random-walk proximity to that trusted seed set (the TrustRank
    * shape). Same fixed-point arithmetic, seed-aware oracle.
    */
  val pageRankPersonalizedQ: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir), "src", "dst",
        seeds = Some(nationZeroSeeds(s, dir))).ranks(5)
      .orderBy("node")

  val pageRankPersonalizedSql: String =
    graft.operators.Graph.pageRankSql(tradeEdgesSql(), iters = 5,
      seedsSql = Some(nationZeroSeedsSql))

  /** Data-contract expectations (Profile.expect): five declarative
    * rules over lineitem evaluated in one aggregate over one scan.
    * The oracle computes the same conditional sums and unpivots.
    */
  val expectationsQ: Q = (s, dir) =>
    graft.operators.Profile.expect(Tables.lineitem(s, dir), Seq(
      "quantity_in_range" -> col("l_quantity").between(1, 50),
      "price_positive" -> (col("l_extendedprice") > 0),
      "discount_bounds" -> col("l_discount").between(0, 0.1),
      "returnflag_enum" -> col("l_returnflag").isin("A", "N", "R"),
      "linenumber_positive" -> (col("l_linenumber") >= 1),
      // deliberately tight: the report must also SHOW a failing verdict
      "quantity_small" -> (col("l_quantity") <= 25)))
      .orderBy("rule")

  val expectationsSql: String = {
    val rules = Seq(
      "quantity_in_range" -> "l_quantity BETWEEN 1 AND 50",
      "price_positive" -> "l_extendedprice > 0",
      "discount_bounds" -> "l_discount BETWEEN 0 AND 0.1",
      "returnflag_enum" -> "l_returnflag IN ('A', 'N', 'R')",
      "linenumber_positive" -> "l_linenumber >= 1",
      "quantity_small" -> "l_quantity <= 25")
    val sums = rules.zipWithIndex.map { case ((_, p), i) =>
      s"CAST(sum(CASE WHEN NOT coalesce($p, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
    }.mkString(",\n  ")
    val branches = rules.zipWithIndex.map { case ((n, _), i) =>
      s"SELECT '$n' AS rule, n AS n_rows, v$i AS n_violations, v$i = 0 AS pass FROM a"
    }.mkString("\nUNION ALL ")
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  $sums
       |  FROM lineitem)
       |$branches
       |ORDER BY rule""".stripMargin
  }

  /** k-anonymity audit (Profile.kAnonymize): every event tagged with
    * its quasi-identifier equivalence-class size over
    * (event_type, value band) and the k=5 suppression verdict. The
    * oracle states the class count + join directly.
    */
  val kAnonymityQ: Q = (s, dir) => {
    val e = events(s, dir).select(
      col("event_id"), col("event_type"),
      floor(col("value") / 50.0).cast("long").as("v_band"))
    graft.operators.Profile.kAnonymize(e, Seq("event_type", "v_band"), k = 5)
      .orderBy("event_id")
  }

  val kAnonymitySql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(floor(value / 50.0) AS BIGINT) AS v_band FROM events),
      |c AS (SELECT event_type, v_band, count(*) AS class_size
      |  FROM e GROUP BY 1, 2)
      |SELECT e.event_id, e.event_type, e.v_band, c.class_size,
      |  c.class_size < 5 AS suppressed
      |FROM e JOIN c USING (event_type, v_band) ORDER BY event_id""".stripMargin

  /** Weighted PageRank (Graph.pageRank with a weight): the same trade
    * graph but rank flows in proportion to TRADE VOLUME — every lineitem
    * contributes one unit of weight to its (customer, supplier) edge,
    * so a supplier shipping 40 lines to one customer pulls 40× the
    * rank of a single-line relationship. Duplicate unit edges sum
    * inside the operator; the oracle runs the generator in weighted
    * mode over the same unit-weight edge stream.
    */
  val pageRankWeightedQ: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir, weight = Some(lit(1L))), "src", "dst",
        weight = Some(col("w"))).ranks(5)
      .orderBy("node")

  val pageRankWeightedSql: String =
    graft.operators.Graph.pageRankSql(tradeEdgesSql(weight = Some("1")), iters = 5,
      weighted = true)

  /** Seeded + weighted PageRank (Graph.pageRank with both options):
    * restart mass concentrated on nation-0 suppliers AND rank flowing
    * in proportion to trade volume — trusted-proximity weighted by how
    * much actually ships (the TrustRank-on-trade-volume composition).
    * Oracle: the shared generator with BOTH options set.
    */
  val pageRankPprWeightedQ: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir, weight = Some(lit(1L))), "src", "dst",
        seeds = Some(nationZeroSeeds(s, dir)), weight = Some(col("w"))).ranks(5)
      .orderBy("node")

  val pageRankPprWeightedSql: String =
    graft.operators.Graph.pageRankSql(tradeEdgesSql(weight = Some("1")), iters = 5,
      weighted = true, seedsSql = Some(nationZeroSeedsSql))

  /** PageRank restart (PreparedPageRank.ranks with init): 3 rounds,
    * hand the OUTPUT ranks over, resume for 2 more on the same
    * prepared graph — and hash-match the UNINTERRUPTED
    * 5-round oracle verbatim (the long-run restart economy: the
    * nano-unit requantization on resume is exact, so the split run IS
    * the straight run).
    */
  val pageRankResumeQ: Q = (s, dir) => {
    // ONE prepared graph feeds both legs (r12 verdict #1 — a second
    // edge-distinct + outdeg join + checkpoint was the warm-start
    // family's whole overhead)
    val g = graft.operators.Graph.pageRank(tradeEdges(s, dir), "src", "dst")
    g.ranks(2, init = Some(g.ranks(3))).orderBy("node")
  }

  // the resumed split run must equal the straight 5-iteration oracle
  val pageRankResumeSql: String = pageRankSql

  /** Incremental PageRank on an edge delta (PreparedPageRank.mutate): the
    * converged 5-round ranks of YESTERDAY'S trade graph (customers
    * ck%10=3 not yet arrived) warm-start 3 refresh rounds on the
    * mutated graph — those customers' edges arrive, supplier-sk%17=2
    * edges retire. The oracle replays the whole timeline: a nested
    * pageRankSql (pi_-prefixed CTEs — DuckDB resolves colliding CTE
    * names against the outer definition) computes the old-graph ranks
    * as initSql, the outer unroll runs the 3 warm rounds on the
    * delta-applied edge set.
    */
  val pageRankDeltaQ: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val j = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .localCheckpoint(false) // one trade join feeds old/add/remove legs
    def sym(df: DataFrame): DataFrame = {
      val f = df.select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      f.unionAll(f.select(col("dst").as("src"), col("src").as("dst")))
    }
    val old = sym(j.filter(col("ck") % 10 =!= 3))
    val adds = sym(j.filter(col("ck") % 10 === 3))
    val rems = sym(j.filter(col("sk") % 17 === 2))
    // the old graph preps ONCE for both the warm 5-round init and the
    // delta anti-join (which runs over the distinct checkpointed edge
    // table, not the raw sym frame) — r12 verdict #1
    val g = graft.operators.Graph.pageRank(old, "src", "dst")
    val init = g.ranks(5)
    g.mutate(adds, rems).ranks(3, init = Some(init)).orderBy("node")
  }

  val pageRankDeltaSql: String = {
    val base = """SELECT o_custkey AS ck, l_suppkey AS sk
                 |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
    def sym(f: String) =
      s"""SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM ($base) WHERE $f
         |UNION ALL SELECT sk * 2 + 1, ck * 2 FROM ($base) WHERE $f""".stripMargin
    val old = sym("ck % 10 <> 3")
    val adds = sym("ck % 10 = 3")
    val rems = sym("sk % 17 = 2")
    val mutated =
      s"""SELECT src, dst FROM ($old) o WHERE NOT EXISTS (
         |    SELECT 1 FROM ($rems) r WHERE r.src = o.src AND r.dst = o.dst)
         |UNION ALL SELECT src, dst FROM ($adds)""".stripMargin
    graft.operators.Graph.pageRankSql(mutated, iters = 3,
      initSql = Some(graft.operators.Graph.pageRankSql(old, iters = 5, prefix = "pi_")))
  }

  /** Bounded-hop BFS distance (Graph.shortestPaths, unit weights):
    * hop distance from the nation-0 supplier seed set over the
    * undirected trade graph — the proximity pre-filter next to the
    * personalized PageRank; 4 rounds of exact integer min-plus,
    * oracle unrolled by the shared generator.
    */
  val shortestPathQ: Q = (s, dir) =>
    graft.operators.Graph.shortestPaths(tradeEdges(s, dir), "src", "dst",
        nationZeroSeeds(s, dir), maxHops = 4)
      .orderBy("node")

  val shortestPathSql: String =
    graft.operators.Graph.shortestPathsSql(tradeEdgesSql(), nationZeroSeedsSql, maxHops = 4)

  /** Weighted bounded-hop shortest paths: the same trade graph with
    * each (customer, supplier) edge costing its cheapest line number
    * (duplicate edges keep the MINIMUM weight inside the operator) —
    * min-cost proximity instead of hop count, identical integer
    * relaxation.
    */
  val shortestPathWeightedQ: Q = (s, dir) =>
    graft.operators.Graph.shortestPaths(
        tradeEdges(s, dir, weight = Some(col("l_linenumber").cast("long"))), "src", "dst",
        nationZeroSeeds(s, dir), maxHops = 4, weight = Some(col("w")))
      .orderBy("node")

  val shortestPathWeightedSql: String =
    graft.operators.Graph.shortestPathsSql(tradeEdgesSql(weight = Some("l_linenumber")),
      nationZeroSeedsSql, maxHops = 4, weighted = true)

  /** Label-propagation communities (Graph.labelPropagation) over the
    * trade graph: 4 deterministic sync rounds (most-frequent neighbor
    * label, ties to the smallest), oracle unrolled by
    * Graph.labelPropagationSql from the same constants.
    */
  val labelPropagationQ: Q = (s, dir) =>
    graft.operators.Graph.labelPropagation(tradeEdges(s, dir, symmetric = false), "src", "dst",
      iters = 4).orderBy("node")

  val labelPropagationSql: String =
    graft.operators.Graph.labelPropagationSql(tradeEdgesSql(symmetric = false), iters = 4)

  /** The support-floored part co-purchase graph shared by the graph
    * demos (q_graph_cc / _bigstar / _kcore / _louvain,
    * q_triangle_count): parts co-ordered ≥ 2 times — the floor keeps
    * it sparse (the co-supplier graph measured 91% dense at sf0.1).
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val ti = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("t"), col("l_partkey").as("i")).distinct()
    ti.as("x")
      .join(ti.as("y"), col("x.t") === col("y.t") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("src"), col("y.i").as("dst"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("src"), col("dst"))
  }

  private val copurchaseEdgesSql: String =
    """SELECT x.i AS src, y.i AS dst
      |  FROM (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem) x
      |  JOIN (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem) y
      |    ON x.t = y.t AND x.i < y.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Per-node triangles + clustering coefficient
    * (Graph.triangleCount) over the part co-purchase graph — parts
    * linked when bought together in ≥ 2 orders (the support floor
    * keeps the graph sparse; the co-SUPPLIER graph was measured 91%
    * dense at sf0.1, a near-clique whose Θ(n³) triangle set is
    * pathological for ANY exact counter). The operator counts each
    * triangle once at its lowest-(degree,id) apex (degree-oriented
    * wedges); the oracle states the id-ordered three-way join
    * directly — same triangle set, so results agree with no
    * orientation replay.
    */
  val triangleCountQ: Q = (s, dir) =>
    graft.operators.Graph.triangleCount(copurchaseEdges(s, dir), "src", "dst").orderBy("node")

  val triangleCountSql: String =
    s"""WITH und AS (SELECT src AS a, dst AS b FROM ($copurchaseEdgesSql)),
      |deg AS (
      |  SELECT node, count(*) AS deg
      |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) u GROUP BY 1),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e1.b = e2.a
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (
      |  SELECT node, count(*) AS triangles
      |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) t GROUP BY 1)
      |SELECT deg.node, deg.deg,
      |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN deg.deg >= 2
      |    THEN CAST(coalesce(pn.triangles, 0) * 2 AS DOUBLE)
      |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
      |    ELSE 0.0 END AS clustering
      |FROM deg LEFT JOIN pn ON deg.node = pn.node
      |ORDER BY deg.node""".stripMargin

  /** Connected components (Graph.connectedComponents, the
    * large-star/small-star alternation also behind the dedup clusters)
    * over the part co-purchase graph: same support-floor edge set as
    * q_triangle_count (sparse by construction — repo invariant on
    * dense demo graphs; 9 components at sf0.01), component = min
    * reachable id, oracle = the recursive transitive closure
    * (Graph.componentsCtes). q_graph_cc_bigstar keeps its registry
    * name and runs this same query.
    */
  val graphCcQ: Q = (s, dir) =>
    graft.operators.Graph.connectedComponents(copurchaseEdges(s, dir), "src", "dst")
      .orderBy("node")

  val graphCcSql: String =
    s"""WITH RECURSIVE ge0 AS ($copurchaseEdgesSql),
       |${graft.operators.Graph.componentsCtes("ge0", "src", "dst", "g")}
       |SELECT node, component FROM gcomp ORDER BY node""".stripMargin

  /** HITS hubs & authorities (Graph.hits) over the DIRECTED trade
    * graph (customer → supplier): the bipartite shape HITS was built
    * for — customers are pure hubs (who buys broadly from good
    * suppliers), suppliers pure authorities (who is bought from by
    * good customers). 3 L1-normalized half-step pairs under the
    * pageRank fixed-point recipe; the oracle unrolls them from the
    * same constants (Graph.hitsSql).
    */
  val hitsQ: Q = (s, dir) =>
    graft.operators.Graph.hits(tradeEdges(s, dir, symmetric = false), "src", "dst", iters = 3)
      .orderBy("node")

  val hitsSqlQ: String =
    graft.operators.Graph.hitsSql(tradeEdgesSql(symmetric = false), iters = 3)

  /** Modularity audit (Graph.modularity) of the label-propagation
    * partition: Q of the 4-round LPA communities over the same trade
    * graph — the "is this community structure better than chance"
    * number next to q_label_propagation. Integer arithmetic to the
    * single closing division (DECIMAL(38,0) ≡ HUGEINT), labels fed to
    * the oracle by re-running the LPA unroll as a subquery.
    */
  val modularityQ: Q = (s, dir) =>
    // fused LPA + modularity audit (r13 verdict #5): ONE symmetric
    // distinct edge table serves both the LPA rounds and the audit's
    // canonical frame — the two-operator form distinct-shuffled the
    // same edge list twice. Values identical; same oracle.
    graft.operators.Graph.labelPropagationModularity(tradeEdges(s, dir, symmetric = false),
        "src", "dst", iters = 4)
      .orderBy("label")

  val modularitySqlQ: String =
    graft.operators.Graph.modularitySql(tradeEdgesSql(symmetric = false), labelPropagationSql)

  /** Louvain move-phase communities (Graph.louvainMoves) over the
    * support-floored part co-purchase graph (the sparse demo graph of
    * q_graph_cc / q_triangle_count): 4 parity-alternated greedy
    * modularity-gain rounds, HUGEINT-exact gain argmax, oracle
    * unrolled from the same constants.
    */
  val louvainQ: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.louvainMoves(e, "src", "dst", iters = 4).orderBy("node")
  }

  val louvainSqlQ: String =
    graft.operators.Graph.louvainSql(copurchaseEdgesSql, iters = 4)

  /** Two-level Louvain (Graph.louvainTwoLevel) over the same
    * co-purchase graph as q_graph_louvain: the level-1 partition is
    * contracted to a weighted super-node graph (self-loop = internal
    * edges) and the weighted move phase merges whole communities that
    * node-level moves cannot — the Blondel aggregation step. Oracle
    * nests the level-1 unroll and replays the weighted rounds with
    * identical HUGEINT gains.
    */
  val louvainL2Q: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.louvainTwoLevel(e, "src", "dst", itersL1 = 4, itersL2 = 4)
      .orderBy("node")
  }

  val louvainL2SqlQ: String =
    graft.operators.Graph.louvainTwoLevelSql(copurchaseEdgesSql, itersL1 = 4, itersL2 = 4)

  /** FULL multi-level Louvain (Graph.louvainMultiLevel) over the same
    * co-purchase graph: the complete Blondel move-contract loop, 3
    * levels of 4 weighted move rounds each with early exit on a
    * no-move level. The oracle is the static 3-level unroll (per-round
    * label CTEs MATERIALIZED — the nested-generator lesson); the
    * early exit replays as no-op levels, so static and dynamic agree.
    */
  val louvainMlQ: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.louvainMultiLevel(e, "src", "dst", itersPerLevel = 4, maxLevels = 3)
      .orderBy("node")
  }

  val louvainMlSqlQ: String =
    graft.operators.Graph.louvainMultiLevelSql(copurchaseEdgesSql, itersPerLevel = 4, maxLevels = 3)

  /** HyperBall harmonic centrality (Graph.harmonicCentrality) over the
    * co-purchase graph: the Common-Crawl-style link-quality ranking —
    * 4 sketch-merge rounds, bottom-32 KMV balls with the twice-squared
    * short-key uniformizer, truncated harmonic sum. The oracle unrolls
    * the identical sketch rounds (UNION merge + per-node bottom-k
    * rank) and replays the estimator and the left-to-right chain.
    */
  val harmonicQ: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.harmonicCentrality(e, "src", "dst", maxHops = 4, k = 32)
  }

  val harmonicSqlQ: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    graft.operators.Graph.harmonicCentralitySql(copurchaseEdgesSql, maxHops = 4, k = 32,
      e => strhashSql(e, "hc"))
  }

  /** HyperBall closeness + neighborhood function
    * (Graph.closenessCentrality) over the same co-purchase graph and
    * sketch parameters as q_harmonic_centrality: per node the N(t)
    * curve n0..n4, the truncated total distance, and the closeness
    * ratio — the same per-round ball estimates, one more arithmetic
    * chain, no new shuffle. Oracle shares the harmonic oracle's
    * sketch-round CTE body.
    */
  val closenessQ: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.closenessCentrality(e, "src", "dst", maxHops = 4, k = 32)
  }

  val closenessSqlQ: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    graft.operators.Graph.closenessCentralitySql(copurchaseEdgesSql, maxHops = 4, k = 32,
      e => strhashSql(e, "hc"))
  }

  /** Whole-graph neighborhood function + 90% effective diameter
    * (Graph.neighborhoodFunction — HyperANF): the per-t reach totals
    * and the interpolated effective diameter off the same co-purchase
    * sketches as the centralities. Per-node estimates quantize into
    * BIGINT micro-units before the global sum (the PageRank
    * fixed-point recipe), so the oracle's scalar sums replay exactly.
    */
  val effDiameterQ: Q = (s, dir) => {
    val e = copurchaseEdges(s, dir)
    graft.operators.Graph.neighborhoodFunction(e, "src", "dst", maxHops = 4, k = 32, q = 0.9)
  }

  val effDiameterSqlQ: String = {
    val p = graft.llm.TextOps.P
    def strhashSql(e: String, v: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
        s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $p)"
    graft.operators.Graph.neighborhoodFunctionSql(copurchaseEdgesSql, maxHops = 4, k = 32,
      q = 0.9, e => strhashSql(e, "hc"))
  }

  /** Bounded-round k-core ([[Graph.kCore]]) on the same support-floored
    * co-purchase graph as q_graph_cc / q_triangle_count: the 3-core
    * (935 of 1880 nodes at sf0.01, an 11-round peel — rounds=12 covers
    * convergence there; the bound is cost, not correctness: both
    * engines run the identical synchronous rounds either way). Output
    * is the surviving nodes with degrees recomputed inside the core.
    */
  val kCoreQ: Q = (s, dir) => {
    val ti = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("t"), col("l_partkey").as("i")).distinct()
    val e = ti.as("x")
      .join(ti.as("y"), col("x.t") === col("y.t") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("src"), col("y.i").as("dst"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("src"), col("dst"))
    graft.operators.Graph.kCore(e, "src", "dst", k = 3, rounds = 12).orderBy("node")
  }

  val kCoreSqlQ: String =
    graft.operators.Graph.kCoreSql(
      """SELECT x.i AS src, y.i AS dst
        |  FROM (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem) x
        |  JOIN (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem) y
        |    ON x.t = y.t AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
      k = 3, rounds = 12)

  /** Referential-integrity audit (Profile.integrity): orphaned
    * lineitems and orders. The oracle states the anti-join directly.
    */
  val integrityCheck: Q = (s, dir) =>
    graft.operators.Profile.integrity(
        Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey",
        "lineitem->orders")
      .unionAll(graft.operators.Profile.integrity(
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey",
        "orders->customer"))
      .orderBy("relation")

  val integrityCheckSql: String =
    """SELECT 'lineitem->orders' AS relation,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
      |  CAST(count(*) AS BIGINT) AS n_orphans, min(l_orderkey) AS min_orphan_key
      |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |UNION ALL
      |SELECT 'orders->customer' AS relation,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child,
      |  CAST(count(*) AS BIGINT) AS n_orphans, min(o_custkey) AS min_orphan_key
      |FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |ORDER BY relation""".stripMargin

  /** Z-order layout audit (Layout.zorderStats): events quantized to a
    * 10-bit (user_id, event_id) grid, bucketed by aligned z-ranges of
    * size 2^10 (level 5) — each bucket's min/max must bound BOTH
    * dimensions inside a 32-wide rectangle, the per-file pruning
    * tightness a z-ordered write produces. The oracle replays the
    * Morton interleave with unrolled integer shifts.
    */
  val zorderStats: Q = (s, dir) =>
    graft.operators.Layout.zorderStats(
        events(s, dir).select(col("user_id"), col("event_id")),
        "user_id", "event_id", bits = 10, level = 5)
      .orderBy("zbucket")

  val zorderStatsSql: String = {
    val z = (0 until 10).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH g AS (
       |  SELECT user_id & 1023 AS x, event_id & 1023 AS y FROM events),
       |z AS (SELECT x, y, ($z) >> 10 AS zbucket FROM g)
       |SELECT zbucket, count(*) AS n,
       |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
       |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  val intervalJoinSql: String =
    """SELECT v.user_id, v.v_id, p.p_id,
      |  greatest(v.vs, p.ps) AS ov_start, least(v.ve, p.pe) AS ov_end
      |FROM (SELECT user_id, event_id AS v_id, event_id AS vs, event_id + 40 AS ve
      |      FROM events WHERE event_type = 'view') v
      |JOIN (SELECT user_id, event_id AS p_id, event_id AS ps, event_id + 50 AS pe
      |      FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.vs <= p.pe AND p.ps <= v.ve
      |ORDER BY 1, 2, 3""".stripMargin

  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id, event_id, event_id AS ord, CAST(NULL AS DOUBLE) AS rv, 0 AS ir
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, CAST(NULL AS BIGINT) AS event_id, event_id AS ord, value AS rv, 1 AS ir
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT user_id, event_id, ir,
      |    last_value(rv IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ord ASC, ir DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
      |  FROM u)
      |SELECT user_id, event_id, last_purchase FROM w WHERE ir = 0
      |ORDER BY user_id, event_id""".stripMargin

  // ----------------------------------------------------------- shedding

  /** SURVEY §2.3 sampling policy (deterministic variant) feeding the
    * upsert state: shed 70% of updates, keep the latest of the rest.
    */
  val shedSample: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    FeatureFrame.source(e, "user_id", "event_id")
      .shedSample("event_id", modulus = 10, keepBelow = 3)
      .bulkQuery
  }

  val shedSampleSql: String =
    """SELECT user_id, max(event_id) AS event_id,
      |  arg_max(value, event_id) AS value, count(*) AS num_updates
      |FROM events WHERE event_id % 10 < 3
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** SURVEY §2.3 newer-than gate over a non-monotone column — the
    * reference e2e `drop_smaller_values` policy
    * (ralf/tests/test_e2e.py:118-142): keep an update only if it
    * strictly exceeds everything kept before it (prefix max).
    */
  val shedIncreasing: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Shedding.keepIncreasing(e, "user_id", col("event_id"), col("value"))
      .orderBy("user_id", "event_id")
  }

  val shedIncreasingSql: String =
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    max(value) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM events)
      |WHERE pm IS NULL OR value > pm
      |ORDER BY user_id, event_id""".stripMargin

  /** SURVEY §2.3 `make_mean_policy`: sequential per-key fold against the
    * last KEPT value. No WINDOW function can express the
    * consume-against-last-kept state, but a RECURSIVE CTE can: level n
    * holds every key's fold state after its n-th event (keys advance in
    * lockstep, depth = max events/key — 86 at sf0.01), and the gate is
    * pure IEEE subtract/abs/compare with no accumulation, so the
    * decision sequence is bit-identical across engines. Oracled since
    * round 10 (previously the documented `err: no_oracle` row);
    * ScalaTest keeps the in-memory reference-fold pin. Both engines drop
    * rows with a NULL key, order or value (the sort-fold's NULL rule).
    */
  val shedMeanPolicy: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    Shedding.meanPolicyFold(e, "user_id", "event_id", "value", thresh = 50.0)
      .orderBy("user_id", "event_id")
  }

  val shedMeanPolicySql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL),
      |fold AS (
      |  SELECT user_id, event_id, value, rn, value AS last_kept, true AS kept
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.event_id, e.value, e.rn,
      |    CASE WHEN abs(e.value - f.last_kept) >= 50.0 THEN e.value ELSE f.last_kept END,
      |    abs(e.value - f.last_kept) >= 50.0
      |  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
      |SELECT user_id, event_id, value FROM fold WHERE kept
      |ORDER BY user_id, event_id""".stripMargin

  /** SURVEY §2.3 `make_cosine_policy`: the same sequential gate over a
    * windowed feature vector with cosine distance. Oracled since round
    * 10 via the same recursive-CTE fold, the kept vector carried as a
    * LIST(DOUBLE) level column; the cosine distance replays the JVM
    * loop exactly — three strict left folds (list_reduce over a 0.0
    * prepend, the strhashSql pattern) for dot/na/nb over the
    * min-length prefix, then `1.0 - dot / sqrt(na*nb)` in the
    * identical op order, zero-norm → distance 1.0. NULL windows drop as
    * in [[shedMeanPolicy]].
    */
  val shedCosinePolicy: Q = (s, dir) => {
    val e = events(s, dir).select("user_id", "event_id", "value")
    val windows = Windows.tumbling(e, "user_id", col("event_id"), col("value"), size = 4)
      .select(col("user_id"), col("window_id"), col("window_values"))
    Shedding.cosinePolicyFold(windows, "user_id", "window_id", "window_values", thresh = 0.02)
      .select(col("user_id"), col("window_id"))
      .orderBy("user_id", "window_id")
  }

  val shedCosinePolicySql: String = {
    // one strict left fold per accumulator, over the min-length prefix
    // — the exact op order of cosinePolicyFold's while loop
    def fold(x: String, y: String): String =
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(range(1, CAST(least(len(c.vs), len(f.last_kept)) AS INT) + 1), " +
        s"ci -> $x[CAST(ci AS INT)] * $y[CAST(ci AS INT)])), (cx, cy) -> cx + cy)"
    s"""WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events),
      |w AS (
      |  SELECT user_id, (rn - 1) // 4 AS window_id, list(value ORDER BY rn) AS vs
      |  FROM ev GROUP BY 1, 2 HAVING count(*) = 4),
      |wr AS (
      |  SELECT user_id, window_id, vs,
      |    row_number() OVER (PARTITION BY user_id ORDER BY window_id) AS wn
      |  FROM w WHERE user_id IS NOT NULL AND window_id IS NOT NULL AND vs IS NOT NULL),
      |fold AS (
      |  SELECT user_id, window_id, wn, vs AS last_kept, true AS kept
      |  FROM wr WHERE wn = 1
      |  UNION ALL
      |  SELECT c.user_id, c.window_id, c.wn,
      |    CASE WHEN d.dist >= 0.02 THEN c.vs ELSE f.last_kept END,
      |    d.dist >= 0.02
      |  FROM fold f
      |  JOIN wr c ON c.user_id = f.user_id AND c.wn = f.wn + 1
      |  CROSS JOIN LATERAL (
      |    SELECT CASE WHEN na = 0.0 OR nb = 0.0 THEN CAST(1.0 AS DOUBLE)
      |                ELSE 1.0 - dot / sqrt(na * nb) END AS dist
      |    FROM (SELECT
      |      ${fold("c.vs", "f.last_kept")} AS dot,
      |      ${fold("c.vs", "c.vs")} AS na,
      |      ${fold("f.last_kept", "f.last_kept")} AS nb)) d)
      |SELECT user_id, window_id FROM fold WHERE kept
      |ORDER BY user_id, window_id""".stripMargin
  }

  /** SURVEY §2.3 processing-order / prioritization policies: static
    * key-weight priority trace (make_sorter_with_key_weights) — the
    * batch-observable artifact is the deterministic processing order.
    */
  val priorityTrace: Q = (s, dir) => {
    val e = events(s, dir)
    val priority = when(col("event_type") === "purchase", 3)
      .when(col("event_type") === "signup", 2)
      .when(col("event_type") === "error", 1)
      .otherwise(0)
    Shedding.keyWeightTrace(e.select("event_id", "user_id", "event_type"), priority, col("event_id"))
      .limit(100)
  }

  val priorityTraceSql: String =
    """SELECT event_id, user_id, event_type,
      |  CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
      |       WHEN 'error' THEN 1 ELSE 0 END AS priority
      |FROM events
      |ORDER BY priority DESC, event_id LIMIT 100""".stripMargin

  // ------------------------------------------------------------ sources

  /** SURVEY §2.2 CounterSource: synthetic range source through a map. */
  val sourceCounter: Q = (s, _) =>
    Sources.counter(s, 100)
      .select(col("value"), (col("value") * col("value")).as("square"))
      .orderBy("value")

  val sourceCounterSql: String =
    "SELECT v AS value, v * v AS square FROM range(1, 101) t(v) ORDER BY value"

  /** SURVEY §2.1 #8 FakeReader: keys × timesteps synthetic grid feeding
    * the upsert state.
    */
  val sourceFake: Q = (s, _) => {
    val src = Sources.fakeReader(s, numKeys = 5, timesteps = 20)
    src.groupBy(col("key"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"), max(col("seq")).as("last_seq"))
      .orderBy("key")
  }

  val sourceFakeSql: String =
    """WITH g AS (
      |  SELECT CAST(k AS VARCHAR) AS key, 1.0 AS value, t * 5 + k AS seq
      |  FROM range(0, 20) s(t) CROSS JOIN range(0, 5) kk(k))
      |SELECT key, sum(value) AS total, count(*) AS n, max(seq) AS last_seq
      |FROM g GROUP BY key ORDER BY key""".stripMargin

  /** SURVEY §2.1 #9 FileReader: CSV replay with key fan-out. The query
    * round-trips the region dim through a temp CSV, replays it through
    * Sources.fileReader fanning each row out to 3 key streams, and the
    * oracle computes the same fan-out over the parquet table — so the
    * CSV write→read→fan-out path itself is what's being checked.
    */
  val sourceFile: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    // fixed overwrite path, not createTempDirectory: the CSV must outlive
    // this (lazy) builder, and a fresh dir per call would accumulate
    val tmp = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_csv_roundtrip").getAbsolutePath
    Tables.region(s, dir)
      .select(col("r_regionkey"), col("r_name"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", LongType), StructField("r_name", StringType)))
    Sources.fileReader(s, tmp, Some(schema), numKeys = 3)
      .select(col("key"), col("r_regionkey"), col("r_name"))
      .orderBy("key", "r_regionkey")
  }

  val sourceFileSql: String =
    """SELECT CAST(k AS VARCHAR) AS key, r_regionkey, r_name
      |FROM region CROSS JOIN range(0, 3) kk(k)
      |ORDER BY key, r_regionkey""".stripMargin

  /** JSONL round-trip (Sources.jsonl): the documents metadata written
    * as JSON lines and read back with an explicit schema — the
    * corpus-dump interchange format. The oracle is the original
    * table: a single mangled value or type would split the hashes.
    */
  val sourceJsonl: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val tmp = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_jsonl_roundtrip").getAbsolutePath
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    Sources.jsonl(s, tmp, Some(schema))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val sourceJsonlSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id""".stripMargin

  /** ORC interchange round-trip (Sources.orc): the columnar exchange
    * format Spark ships natively next to parquet — write the
    * documents slice to ORC, read it back, and the oracle checks the
    * round-trip against the parquet truth (DuckDB reads no ORC, so
    * the invariant IS the equality with the source table).
    */
  val sourceOrc: Q = (s, dir) => {
    val tmp = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_orc_roundtrip").getAbsolutePath
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").orc(tmp)
    Sources.orc(s, tmp)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val sourceOrcSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "q_map_feature" -> mapFeature,
    "q_latest_feature" -> latestFeature,
    "q_feature_history" -> featureHistory,
    "q_feature_staleness" -> featureStaleness,
    "q_shed_regret" -> shedRegret,
    "q_feature_as_at" -> featureAsAt,
    "q_point_query" -> pointQuery,
    "q_tumbling_window" -> tumblingWindow,
    "q_sliding_window" -> slidingWindow,
    "q_sliding_perkey_plan" -> slidingPerKeyPlan,
    "q_sessionize" -> sessionize,
    "q_running_sum" -> runningSum,
    "q_rolling_slope" -> rollingSlopeQ,
    "q_percentile_features" -> percentileFeatures,
    "q_enrich_latest_join" -> enrichLatestJoin,
    "q_sequence_join" -> sequenceJoin,
    "q_dim_join" -> dimJoin,
    "q_asof_join" -> asofJoin,
    "q_training_set" -> trainingSet,
    "q_range_join" -> rangeJoin,
    "q_interval_join" -> intervalJoin,
    "q_zorder_stats" -> zorderStats,
    "q_decayed_features" -> decayedFeatures,
    "q_event_funnel" -> eventFunnel,
    "q_cohort_retention" -> cohortRetention,
    "q_churn_survival" -> churnSurvival,
    "q_churn_hazard" -> churnHazard,
    "q_event_transitions" -> eventTransitions,
    "q_quantile_bins" -> quantileBinsQ,
    "q_group_quantile_bins" -> groupQuantileBinsQ,
    "q_column_entropy" -> columnEntropy,
    "q_rolling_zscore" -> rollingZScoreQ,
    "q_cusum_drift" -> cusumDrift,
    "q_ks_drift" -> ksDrift,
    "q_chisq_eventmix" -> chisqEventMix,
    "q_psi_drift" -> psiDrift,
    "q_wasserstein_drift" -> wassersteinDrift,
    "q_anova_value" -> anovaValue,
    "q_mi_langsource" -> miLangSource,
    "q_bootstrap_mean" -> bootstrapMeanQ,
    "q_spearman_trend" -> spearmanTrend,
    "q_spearman_by_type" -> spearmanByTypeQ,
    "q_corr_matrix" -> corrMatrix,
    "q_drift_report" -> driftReport,
    "q_drift_by_key" -> driftByKey,
    "q_benford_values" -> benfordValues,
    "q_l_diversity" -> lDiversityQ,
    "q_jsd_eventmix" -> jsdEventMix,
    "q_jsd_by_type" -> jsdByType,
    "q_chisq_by_type" -> chisqByType,
    "q_ks_by_type" -> ksByType,
    "q_w1_by_type" -> w1ByType,
    "q_psi_by_type" -> psiByType,
    "q_source_concentration" -> sourceConcentration,
    "q_profile_events" -> profileEvents,
    "q_profile_drift" -> profileDrift,
    "q_integrity_check" -> integrityCheck,
    "q_salted_join" -> saltedJoinQ,
    "q_fuzzy_join" -> fuzzyJoinQ,
    "q_pagerank" -> pageRankQ,
    "q_pagerank_ppr" -> pageRankPersonalizedQ,
    "q_pagerank_weighted" -> pageRankWeightedQ,
    "q_pagerank_ppr_weighted" -> pageRankPprWeightedQ,
    "q_pagerank_resume" -> pageRankResumeQ,
    "q_pagerank_delta" -> pageRankDeltaQ,
    "q_shortest_path" -> shortestPathQ,
    "q_shortest_path_weighted" -> shortestPathWeightedQ,
    "q_triangle_count" -> triangleCountQ,
    "q_graph_cc" -> graphCcQ,
    "q_graph_cc_bigstar" -> graphCcQ,
    "q_graph_kcore" -> kCoreQ,
    "q_graph_louvain" -> louvainQ,
    "q_graph_louvain_l2" -> louvainL2Q,
    "q_graph_louvain_ml" -> louvainMlQ,
    "q_graph_hits" -> hitsQ,
    "q_harmonic_centrality" -> harmonicQ,
    "q_closeness_centrality" -> closenessQ,
    "q_effective_diameter" -> effDiameterQ,
    "q_graph_modularity" -> modularityQ,
    "q_label_propagation" -> labelPropagationQ,
    "q_k_anonymity" -> kAnonymityQ,
    "q_expectations" -> expectationsQ,
    "q_shed_sample" -> shedSample,
    "q_shed_increasing" -> shedIncreasing,
    "q_shed_mean_policy" -> shedMeanPolicy,
    "q_shed_cosine_policy" -> shedCosinePolicy,
    "q_priority_trace" -> priorityTrace,
    "q_source_counter" -> sourceCounter,
    "q_source_fake" -> sourceFake,
    "q_source_file" -> sourceFile,
    "q_source_jsonl" -> sourceJsonl,
    "q_source_orc" -> sourceOrc
  )

  val oracleSql: Map[String, String] = Map(
    "q_map_feature" -> mapFeatureSql,
    "q_latest_feature" -> latestFeatureSql,
    "q_feature_history" -> featureHistorySql,
    "q_feature_staleness" -> featureStalenessSql,
    "q_shed_regret" -> shedRegretSql,
    "q_feature_as_at" -> featureAsAtSql,
    "q_point_query" -> pointQuerySql,
    "q_tumbling_window" -> tumblingWindowSql,
    "q_sliding_window" -> slidingWindowSql,
    "q_sliding_perkey_plan" -> slidingPerKeyPlanSql,
    "q_sessionize" -> sessionizeSql,
    "q_running_sum" -> runningSumSql,
    "q_rolling_slope" -> rollingSlopeSql,
    "q_percentile_features" -> percentileFeaturesSql,
    "q_enrich_latest_join" -> enrichLatestJoinSql,
    "q_sequence_join" -> sequenceJoinSql,
    "q_dim_join" -> dimJoinSql,
    "q_asof_join" -> asofJoinSql,
    "q_training_set" -> trainingSetSql,
    "q_range_join" -> rangeJoinSql,
    "q_interval_join" -> intervalJoinSql,
    "q_zorder_stats" -> zorderStatsSql,
    "q_decayed_features" -> decayedFeaturesSql,
    "q_event_funnel" -> eventFunnelSql,
    "q_cohort_retention" -> cohortRetentionSql,
    "q_churn_survival" -> churnSurvivalSql,
    "q_churn_hazard" -> churnHazardSql,
    "q_event_transitions" -> eventTransitionsSql,
    "q_quantile_bins" -> quantileBinsSql,
    "q_group_quantile_bins" -> groupQuantileBinsSql,
    "q_column_entropy" -> columnEntropySql,
    "q_rolling_zscore" -> rollingZScoreSql,
    "q_cusum_drift" -> cusumDriftSql,
    "q_ks_drift" -> ksDriftSql,
    "q_chisq_eventmix" -> chisqEventMixSql,
    "q_psi_drift" -> psiDriftSql,
    "q_wasserstein_drift" -> wassersteinDriftSql,
    "q_anova_value" -> anovaValueSql,
    "q_mi_langsource" -> miLangSourceSql,
    "q_bootstrap_mean" -> bootstrapMeanSqlStr,
    "q_spearman_trend" -> spearmanTrendSql,
    "q_spearman_by_type" -> spearmanByTypeSql,
    "q_corr_matrix" -> corrMatrixSql,
    "q_drift_report" -> driftReportSql,
    "q_drift_by_key" -> driftByKeySql,
    "q_benford_values" -> benfordValuesSql,
    "q_l_diversity" -> lDiversitySql,
    "q_jsd_eventmix" -> jsdEventMixSql,
    "q_jsd_by_type" -> jsdByTypeSql,
    "q_chisq_by_type" -> chisqByTypeSql,
    "q_ks_by_type" -> ksByTypeSql,
    "q_w1_by_type" -> w1ByTypeSql,
    "q_psi_by_type" -> psiByTypeSql,
    "q_source_concentration" -> sourceConcentrationSql,
    "q_profile_events" -> profileEventsSql,
    "q_profile_drift" -> profileDriftSql,
    "q_integrity_check" -> integrityCheckSql,
    "q_salted_join" -> saltedJoinSql,
    "q_shed_sample" -> shedSampleSql,
    "q_shed_mean_policy" -> shedMeanPolicySql,
    "q_shed_cosine_policy" -> shedCosinePolicySql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_shed_increasing" -> shedIncreasingSql,
    "q_pagerank" -> pageRankSql,
    "q_pagerank_ppr" -> pageRankPersonalizedSql,
    "q_pagerank_weighted" -> pageRankWeightedSql,
    "q_pagerank_ppr_weighted" -> pageRankPprWeightedSql,
    "q_pagerank_resume" -> pageRankResumeSql,
    "q_pagerank_delta" -> pageRankDeltaSql,
    "q_shortest_path" -> shortestPathSql,
    "q_shortest_path_weighted" -> shortestPathWeightedSql,
    "q_triangle_count" -> triangleCountSql,
    "q_graph_cc" -> graphCcSql,
    "q_graph_cc_bigstar" -> graphCcSql,
    "q_graph_kcore" -> kCoreSqlQ,
    "q_graph_louvain" -> louvainSqlQ,
    "q_graph_louvain_l2" -> louvainL2SqlQ,
    "q_graph_louvain_ml" -> louvainMlSqlQ,
    "q_graph_hits" -> hitsSqlQ,
    "q_harmonic_centrality" -> harmonicSqlQ,
    "q_closeness_centrality" -> closenessSqlQ,
    "q_effective_diameter" -> effDiameterSqlQ,
    "q_graph_modularity" -> modularitySqlQ,
    "q_label_propagation" -> labelPropagationSql,
    "q_priority_trace" -> priorityTraceSql,
    "q_k_anonymity" -> kAnonymitySql,
    "q_source_counter" -> sourceCounterSql,
    "q_expectations" -> expectationsSql,
    "q_source_fake" -> sourceFakeSql,
    "q_source_file" -> sourceFileSql,
    "q_source_jsonl" -> sourceJsonlSql,
    "q_source_orc" -> sourceOrcSql
  )
}
