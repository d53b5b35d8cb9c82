package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus classification: multinomial Naive Bayes trained and scored
  * entirely in-engine — the "quality classifier" stage of the
  * GPT-3/CCNet-era curation recipe (score every document against a
  * labeled reference, keep/weight by the posterior) without any
  * external model artifact. Training is closed-form counting, so the
  * whole train→score pipeline is one lazy plan with an exact DuckDB
  * oracle.
  *
  * Reference scope: ralf's operator chains transform feature tables
  * (`ralf/operator.py:60-118`); a learned filter is the same
  * map-with-state shape where the "state" is the broadcast-free model
  * table. The NB formulation follows McCallum & Nigam 1998 (multinomial
  * event model, Laplace smoothing).
  *
  * Cross-engine FP discipline: every transcendental lands once per
  * MODEL ROW, not per document — `ln` of a rational built from exact
  * long counts, rounded to 6 decimals and quantized to DECIMAL(18,6)
  * (the decayedSum pattern). Per-document scores are then
  * `lprior + Σ tf·llh` — integer × decimal products summed exactly, so
  * shuffle order cannot move a bit and the argmax is engine-identical.
  * Ties (same total score) break toward the lexicographically smaller
  * label in both engines.
  *
  * Scale shape: the text-bearing scan happens ONCE (the explode under
  * the (doc, label, term) exchange, map-side combined, then a
  * localCheckpoint barrier so the token table feeds training counts AND
  * scoring without re-tokenizing). The dense model is classes × vocab
  * rows — vocabulary-sized, so the scoring join on `term` carries NO
  * broadcast hint (web vocabularies are billions of terms; both sides
  * descend from the same token table and AQE broadcasts small ones at
  * runtime). Only genuinely constant-size frames broadcast: the
  * per-class totals, the priors, the vocab-size scalar, and the
  * prior-only fallback row for token-less documents.
  */
object Classify {

  /** Full-batch gradient-descent training of a logistic-regression
    * quality classifier — the other half of the CCNet/GPT-3 curation
    * recipe next to the NB family (Brown et al. 2020 §A trained an LR
    * filter scoring documents against a reference corpus; Wenzek et
    * al. 2019 the fastText analog). Input is a FEATURE frame (one row
    * per document: 0/1 label + `featureCols` doubles); output is the
    * trained weight vector in integer MICRO-UNITS, bias first.
    *
    * Exactness discipline (the PageRank fixed-point recipe, because
    * GD is iterated — output-rounding tricks drift here): weights
    * live as BIGINT micro-units on the DRIVER and re-enter each
    * iteration as double literals (the collect-as-literal
    * convention); the margin is a fixed left-to-right fold
    * `(((w0 + w1·x1) + w2·x2) + …)/1e6`; the sigmoid's residual
    * quantizes PER TERM with `floor(r·x·1e6 + 0.5)` (identical IEEE
    * sequence in both engines — never a round()), gradients sum as
    * exact longs, and the update is
    * `wu_j -= floor(lr · G_j / n + 0.5)` on shared double literals.
    * The DuckDB oracle generator [[logisticSql]] unrolls the same
    * iterations from the same constants, so training is replayed
    * bit-for-bit (exp() under the decayedSum transcendental
    * precedent).
    *
    * Scale shape: the feature frame checkpoints once (narrow: d+1
    * doubles per doc); each iteration is ONE map-side-combined
    * aggregate producing d+1 longs collected to the driver — a
    * control-plane collect per iteration, the pageRank dangling-mass
    * shape. No shuffle grows with d·n; no per-iteration lineage
    * growth.
    */
  def logisticTrain(
      feats: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      iters: Int = 5,
      lr: Double = 0.3
  ): Array[Long] = {
    require(iters >= 1 && iters <= 100, s"iters must be in 1..100, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    require(featureCols.nonEmpty, "at least one feature column required")
    val d = featureCols.length
    val f = feats.select(
      (col(labelCol).cast("double").as("_y") +:
        featureCols.zipWithIndex.map { case (c, j) => col(c).cast("double").as(s"_x$j") }): _*)
      .localCheckpoint(false)
    // one fused pre-pass (count + NULL audit) instead of two jobs —
    // r13: the former limit(1).count() probe plus the separate count()
    // each scheduled a job over the same checkpointed frame; the fused
    // aggregate is one pass and also the checkpoint's materializing
    // action, so the 40-iteration loop starts from cached blocks
    val badCond = featureCols.indices.map(j => col(s"_x$j").isNull)
      .foldLeft(col("_y").isNull)(_ || _)
    val head = f.agg(count(lit(1)).as("_n"),
      coalesce(sum(when(badCond, 1L).otherwise(0L)), lit(0L)).as("_bad"))
      .collect()(0)
    val n = head.getLong(0)
    require(n == 0 || head.getLong(1) == 0,
      "logisticTrain requires non-null label and features; " +
        "coalesce or filter degenerate rows (e.g. zero-word docs) upstream")
    require(n > 0, "logisticTrain needs a non-empty feature frame")
    // size the LOOP frame's tasks to the data, not the session (r13):
    // the GD loop schedules `iters` aggregate jobs over this narrow
    // checkpointed frame, so on a fanned-out scan a tiny corpus pays
    // iters × parallelism task launches for microseconds of work each
    // (measured +~70 ms/iteration at 32 partitions × 5k rows).
    // coalesce is narrow (merges cached blocks, no shuffle, order-free
    // exact sums); at corpus scale rowsPerTask keeps every partition —
    // the quantum only binds where scheduling dominates.
    val rowsPerTask = 262144L
    val p0 = f.rdd.getNumPartitions
    val pTarget = math.max(1L, math.min(p0.toLong, (n + rowsPerTask - 1) / rowsPerTask)).toInt
    val fl = if (pTarget < p0) f.coalesce(pTarget) else f
    val nD = n.toDouble
    graft.core.Rounds.run("logisticTrain", Array.fill(d + 1)(0L), iters) { (wu, _) =>
      val m = (0 until d).foldLeft(lit(wu(0).toDouble): org.apache.spark.sql.Column)(
        (acc, j) => acc + lit(wu(j + 1).toDouble) * col(s"_x$j")) / lit(1.0e6)
      val r = lit(1.0) / (lit(1.0) + exp(-m)) - col("_y")
      val g0 = sum(floor(r * lit(1.0e6) + lit(0.5))).as("_g0")
      val gj = (0 until d).map(j =>
        sum(floor(r * col(s"_x$j") * lit(1.0e6) + lit(0.5))).as(s"_g${j + 1}"))
      val row = fl.agg(g0, gj: _*).collect()(0)
      (Array.tabulate(d + 1)(j =>
        wu(j) - math.floor(lr * row.getLong(j).toDouble / nD + 0.5).toLong), false)
    }.state
  }

  /** Score a feature frame with [[logisticTrain]] weights: per row the
    * micro-unit margin (the exact integer-auditable artifact), the
    * sigmoid score rounded once on output, and the >= 0.5 keep
    * verdict — which is exactly `margin >= 0` and therefore
    * integer-exact however the transcendental rounds.
    */
  def logisticScore(
      feats: DataFrame,
      idCol: String,
      featureCols: Seq[String],
      weightsMicro: Array[Long]
  ): DataFrame = {
    val d = featureCols.length
    require(weightsMicro.length == d + 1,
      s"expected ${d + 1} weights (bias first), got ${weightsMicro.length}")
    val m = featureCols.zipWithIndex.foldLeft(
      lit(weightsMicro(0).toDouble): org.apache.spark.sql.Column) {
      case (acc, (c, j)) => acc + lit(weightsMicro(j + 1).toDouble) * col(c).cast("double")
    } / lit(1.0e6)
    feats.select(
      col(idCol).as("doc"),
      floor(m * lit(1.0e6) + lit(0.5)).as("margin_micro"),
      round(lit(1.0) / (lit(1.0) + exp(-m)), 6).as("score"),
      (floor(m * lit(1.0e6) + lit(0.5)) >= 0L).as("keep"))
  }

  /** The [[logisticTrain]]/[[logisticScore]] oracle generator —
    * unrolled GD iterations over a feature SQL producing
    * `(<idCol>, _y, _x0.._x{d-1})`, the pageRankSql convention: both
    * engines run the identical constants and op sequences, kept next
    * to the operator so they can never drift. Every CTE is
    * MATERIALIZED (the q_training_run re-evaluation lesson — each
    * weight row is referenced d+1 times per iteration).
    * `scoreFeatsSql`, when given, is a SEPARATE feature SQL for the
    * final scoring select (the holdout shape: train on `featsSql`,
    * score everything).
    */
  def logisticSql(
      featsSql: String,
      idCol: String,
      d: Int,
      iters: Int = 5,
      lr: Double = 0.3,
      scoreFeatsSql: Option[String] = None
  ): String = {
    require(d >= 1 && iters >= 1)
    val lrS = s"CAST(${new java.math.BigDecimal(lr).toPlainString} AS DOUBLE)"
    def mExpr(w: String): String =
      "(" + (0 until d).foldLeft(s"CAST((SELECT wu0 FROM $w) AS DOUBLE)")((acc, j) =>
        s"$acc + CAST((SELECT wu${j + 1} FROM $w) AS DOUBLE) * _x$j") + ") / 1000000.0"
    val w0 = "w0 AS MATERIALIZED (SELECT " +
      (0 to d).map(j => s"CAST(0 AS BIGINT) AS wu$j").mkString(", ") + ")"
    val iterCtes = (1 to iters).flatMap { k =>
      val m = mExpr(s"w${k - 1}")
      val r = s"(1.0 / (1.0 + exp(-($m))) - _y)"
      val g = s"g$k AS MATERIALIZED (SELECT " +
        ((0 to d).map {
          case 0 => s"CAST(sum(FLOOR($r * 1000000.0 + 0.5)) AS BIGINT) AS g0"
          case j => s"CAST(sum(FLOOR($r * _x${j - 1} * 1000000.0 + 0.5)) AS BIGINT) AS g$j"
        }).mkString(", ") + " FROM f)"
      val w = s"w$k AS MATERIALIZED (SELECT " +
        (0 to d).map(j =>
          s"(SELECT wu$j FROM w${k - 1}) - CAST(FLOOR($lrS * " +
            s"CAST((SELECT g$j FROM g$k) AS DOUBLE) / (SELECT n FROM nn) + 0.5) AS BIGINT) AS wu$j")
          .mkString(", ") + ")"
      Seq(g, w)
    }
    val mF = mExpr(s"w$iters")
    val scoreCte = scoreFeatsSql.map(sq => s",\nfs AS MATERIALIZED ($sq)").getOrElse("")
    val scoreFrom = if (scoreFeatsSql.isDefined) "fs" else "f"
    s"""WITH f AS MATERIALIZED ($featsSql),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |$w0,
       |${iterCtes.mkString(",\n")}$scoreCte
       |SELECT $idCol AS doc, CAST(_y AS BIGINT) AS label,
       |  CAST(FLOOR(($mF) * 1000000.0 + 0.5) AS BIGINT) AS margin_micro,
       |  round(1.0 / (1.0 + exp(-($mF))), 6) AS score,
       |  FLOOR(($mF) * 1000000.0 + 0.5) >= 0 AS keep
       |FROM $scoreFrom ORDER BY doc""".stripMargin
  }

  /** Reliability/calibration bins for any probabilistic classifier
    * score (Guo et al. 2017's ECE diagram, the artifact behind "is
    * this quality filter's 0.9 actually a 0.9") — the evaluation
    * companion to [[logisticScore]] and [[nbTrainScore]]: scores in
    * [0, 1] bucket into `bins` equal-width bins (the top edge closes
    * into the last bin), each bin reports its exact count, positive
    * count, empirical accuracy, mean confidence, and the |gap| — so
    * `Σ n·abs_gap / Σ n` over the B output rows IS the expected
    * calibration error, computable from the output without another
    * corpus pass.
    *
    * Exactness: bin assignment is `least(floor(score·bins), bins-1)`
    * (same IEEE multiply/floor both engines on the already-identical
    * score doubles); counts are exact longs; confidence sums quantize
    * each 6-dp score to DECIMAL(18,6) and sum exactly, so the only
    * doubles are the three one-division-per-output-row rates (the
    * oracle-parity rule). Empty bins are absent (the caller's
    * spine-join problem; a reliability diagram plots present bins).
    * One map-side-combined aggregate, one exchange keyed by bin —
    * B rows out at any corpus size.
    */
  def calibrationBins(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int
  ): DataFrame = {
    require(bins >= 1 && bins <= 1000, s"bins must be in 1..1000, got $bins")
    val s = col(scoreCol).cast("double")
    val binCol = least(floor(s * lit(bins.toDouble)), lit((bins - 1).toLong))
    scored
      .select(binCol.as("bin"),
        col(labelCol).cast("long").as("y"),
        s.cast("decimal(18,6)").as("sq"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        sum(col("sq")).as("conf_sum"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("accuracy"),
        (col("conf_sum").cast("double") / col("n").cast("double")).as("confidence"),
        abs(col("conf_sum").cast("double") / col("n").cast("double") -
          col("n_pos").cast("double") / col("n").cast("double")).as("abs_gap"))
  }

  /** Isotonic calibration (pool-adjacent-violators; Zadrozny & Elkan
    * 2002, "Transforming classifier scores into accurate multiclass
    * probability estimates") over the [[calibrationBins]] binning —
    * the standard upgrade from histogram binning: fit the monotone
    * nondecreasing probability curve closest (L2) to the per-bin
    * positive rates, so a classifier whose raw rates zigzag still
    * calibrates to a proper nondecreasing mapping. One row per
    * OBSERVED bin: `(bin, n, n_pos, rate_raw, rate_iso)`.
    *
    * Exactness — PAV via the MINIMAX identity, not the stack fold:
    * `p̂_i = max_{j≤i} min_{l≥i} (K_l − K_{j−1})/(N_l − N_{j−1})`
    * (Robertson/Wright/Dykstra 1988, Thm 1.4.4). Every candidate
    * ratio is ONE IEEE division of exact long prefix sums, and the
    * min/max lattice over those doubles is order-free — so the
    * driver-side scan and [[isotonicCalibrationSql]]'s join replay
    * produce bit-identical curves by construction (a stack PAV's
    * merge decisions could tie-break differently under rounding; the
    * minimax form has no decisions, only complete lattices).
    *
    * Scale shape: the corpus-scale work is ONE binned aggregate
    * (map-side combined); the curve fits on the driver over the
    * ≤`bins` bin table — O(B²) suffix-min scans, control-plane by
    * the same contract as [[agreementKappa]]'s contingency collect —
    * and re-enters as an explicit-schema local relation (the
    * Bpe.learnMerges console-safe convention).
    *
    * NULL policy (the cusum precedent): rows with a NULL score or
    * label are DROPPED before binning — a NULL score would otherwise
    * form a NULL bin group whose driver-side getLong NPEs opaquely,
    * and the oracle's NULL-bin placement would hang on DuckDB's NULL
    * ordering. The oracle applies the identical WHERE.
    */
  def isotonicCalibration(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(bins >= 1 && bins <= 1000, s"bins must be in 1..1000, got $bins")
    val spark = scored.sparkSession
    val s = col(scoreCol).cast("double")
    val binCol = least(floor(s * lit(bins.toDouble)), lit((bins - 1).toLong))
    val stats = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(binCol.as("bin"), col(labelCol).cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      .orderBy(col("bin"))
      .collect()
    require(stats.nonEmpty, "isotonicCalibration needs a non-empty frame")
    val bn = stats.map(_.getLong(1))
    val bk = stats.map(_.getLong(2))
    val fit = pavMinimaxFit(bn, bk)
    val out = stats.indices.map { i =>
      Row(stats(i).getLong(0), bn(i), bk(i),
        bk(i).toDouble / bn(i).toDouble, fit(i))
    }
    val schema = StructType(Seq(
      StructField("bin", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_pos", LongType, nullable = false),
      StructField("rate_raw", DoubleType, nullable = false),
      StructField("rate_iso", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** The shared PAV minimax lattice over one key's ordered bin stats
    * (`p̂_i = max_{j≤i} min_{l≥i} ratio(j, l)` — see
    * [[isotonicCalibration]]'s exactness note): O(B²) driver-side
    * scans over exact long prefix sums, one IEEE division per
    * candidate ratio.
    */
  private def pavMinimaxFit(bn: Array[Long], bk: Array[Long]): Array[Double] = {
    val b = bn.length
    val prefN = bn.scanLeft(0L)(_ + _) // prefN(i) = Σ n before index i
    val prefK = bk.scanLeft(0L)(_ + _)
    def ratio(j: Int, l: Int): Double =
      (prefK(l + 1) - prefK(j)).toDouble / (prefN(l + 1) - prefN(j)).toDouble
    // minTo(j)(i) = min over l ≥ i of ratio(j, l), by suffix scan
    val minTo = Array.tabulate(b) { j =>
      val m = new Array[Double](b)
      var acc = Double.MaxValue
      var l = b - 1
      while (l >= j) {
        val r = ratio(j, l)
        acc = if (r < acc) r else acc
        m(l) = acc
        l -= 1
      }
      m
    }
    Array.tabulate(b) { i =>
      var best = Double.MinValue
      var j = 0
      while (j <= i) {
        val m = minTo(j)(i)
        best = if (m > best) m else best
        j += 1
      }
      best
    }
  }

  /** Per-key isotonic calibration — [[isotonicCalibration]] fanned out
    * over a segment/source key, the per-key drift-matrix discipline
    * applied to the calibration family: audit the monotone curve PER
    * source/domain in one pass instead of one global average hiding a
    * miscalibrated slice. One row per observed (key, bin):
    * `(key, bin, n, n_pos, rate_raw, rate_iso)` ordered by (key, bin);
    * NULL key/score/label rows drop (the [[isotonicCalibration]] NULL
    * policy); the key is cast to string (explicit-schema re-entry).
    *
    * Scale shape: corpus work is ONE (key, bin) map-side-combined
    * aggregate; the keys×bins grid then collects to the driver for the
    * per-key O(B²) minimax lattices behind a LOUD `maxCells` bound
    * (the [[graft.operators.StatTests.chiSquareByKey]] 4096-cell
    * precedent — fetched `maxCells + 1`, so an oversized grid fails
    * before materializing on the driver).
    */
  def isotonicCalibrationByKey(
      scored: DataFrame,
      keyCol: String,
      labelCol: String,
      scoreCol: String,
      bins: Int,
      maxCells: Int = 4096
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(bins >= 1 && bins <= 1000, s"bins must be in 1..1000, got $bins")
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    val spark = scored.sparkSession
    val s = col(scoreCol).cast("double")
    val binCol = least(floor(s * lit(bins.toDouble)), lit((bins - 1).toLong))
    val cells = scored
      .filter(col(keyCol).isNotNull && col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"), binCol.as("bin"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("key"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      .orderBy(col("key"), col("bin"))
      .limit(maxCells + 1)
      .collect()
    require(cells.length <= maxCells,
      s"isotonicCalibrationByKey: the keys×bins grid has more than $maxCells " +
        "cells (maxCells) — coarsen bins or split the key space")
    require(cells.nonEmpty, "isotonicCalibrationByKey needs a non-empty frame")
    pavByKeyFrame(spark, cells)
  }

  /** [[isotonicCalibrationByKey]]'s scoring half over already-binned
    * per-key label counts `(k, bin, c_pos, c_neg)` — the
    * live-calibration cell: stream the binned counts
    * ([[graft.streaming.StreamingFeatures.keyedValueCountsStream]]
    * with `v` = the score bin and `is_a` = the positive label), score
    * any Complete-mode snapshot with identical batch math
    * (streamed-final ≡ batch, StreamingSpec). Duplicate (k, bin) cells
    * SUM (the chiSquareByKeyFromCounts contract); same loud `maxCells`
    * driver bound and string-cast keys as the direct operator.
    */
  def isotonicCalibrationByKeyFromCounts(
      counts: DataFrame,
      maxCells: Int = 4096
  ): DataFrame = {
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    val spark = counts.sparkSession
    // NULL counts coalesce to 0 and empty (n = 0) cells drop — the
    // batch operator's NULL policy (r12 ADVICE): an all-NULL cell
    // otherwise surfaces as an opaque getLong NPE, an all-zero cell as
    // NaN rates inside the PAV fit.
    val cells = counts
      .select(col("k").cast("string").as("key"), col("bin").cast("long").as("bin"),
        coalesce(col("c_pos").cast("long"), lit(0L)).as("_cp"),
        coalesce(col("c_neg").cast("long"), lit(0L)).as("_cn"))
      .filter(col("key").isNotNull && col("bin").isNotNull)
      .groupBy(col("key"), col("bin"))
      .agg((sum(col("_cp")) + sum(col("_cn"))).as("n"), sum(col("_cp")).as("k"))
      .filter(col("n") >= 1L)
      .orderBy(col("key"), col("bin"))
      .limit(maxCells + 1)
      .collect()
    require(cells.length <= maxCells,
      s"isotonicCalibrationByKeyFromCounts: the keys×bins grid has more than " +
        s"$maxCells cells (maxCells) — coarsen bins or split the key space")
    require(cells.nonEmpty, "isotonicCalibrationByKeyFromCounts needs a non-empty frame")
    pavByKeyFrame(spark, cells)
  }

  /** Shared driver tail of the per-key calibration family: collected
    * `(key, bin, n, n_pos)` cells → per-key [[pavMinimaxFit]] → the
    * explicit-schema result frame.
    */
  private def pavByKeyFrame(
      spark: org.apache.spark.sql.SparkSession,
      cells: Array[org.apache.spark.sql.Row]
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Preserve the COLLECTED (key, bin) order — Spark already sorted
    // by UTF-8 binary key order, which matches the DuckDB VARCHAR
    // oracle; a Scala sortBy would re-sort in UTF-16 code-unit order
    // and diverge on supplementary-plane keys (r12 ADVICE). Cutting
    // groups on key change is also one pass instead of a groupBy +
    // sort.
    val out = Seq.newBuilder[Row]
    var i = 0
    while (i < cells.length) {
      val key = cells(i).getString(0)
      var j = i
      while (j < cells.length && cells(j).getString(0) == key) j += 1
      val rows = cells.slice(i, j) // bin-ascending within key (orderBy key, bin)
      val bn = rows.map(_.getLong(2))
      val bk = rows.map(_.getLong(3))
      val fit = pavMinimaxFit(bn, bk)
      rows.indices.foreach { x =>
        out += Row(key, rows(x).getLong(1), bn(x), bk(x),
          bk(x).toDouble / bn(x).toDouble, fit(x))
      }
      i = j
    }
    val schema = StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("bin", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_pos", LongType, nullable = false),
      StructField("rate_raw", DoubleType, nullable = false),
      StructField("rate_iso", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out.result(): _*), schema)
  }

  /** The [[isotonicCalibrationByKey]] oracle generator: `scoredSql`
    * must yield `(k, label, score)`; [[isotonicCalibrationSql]]'s
    * join-lattice with every join and window PARTITIONED by the key.
    * Same oracle-side bound as the global generator: the iso_m stage
    * is O(B³) PER KEY — keep oracled uses at bins ≤ 64.
    */
  def isotonicCalibrationByKeySql(scoredSql: String, bins: Int): String =
    s"""WITH iso_g AS MATERIALIZED (
       |  SELECT CAST(k AS VARCHAR) AS k,
       |    LEAST(CAST(FLOOR(score * ${bins.toDouble}) AS BIGINT),
       |      ${(bins - 1).toLong}) AS bin,
       |    CAST(label AS BIGINT) AS y FROM ($scoredSql)
       |  WHERE k IS NOT NULL AND score IS NOT NULL AND label IS NOT NULL),
       |iso_a AS MATERIALIZED (SELECT k, bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS kk,
       |    CAST(SUM(count(*)) OVER (PARTITION BY k ORDER BY bin) AS BIGINT) AS nc,
       |    CAST(SUM(sum(y)) OVER (PARTITION BY k ORDER BY bin) AS BIGINT) AS kc
       |  FROM iso_g GROUP BY 1, 2),
       |iso_r AS (SELECT a.k, a.bin AS j, b.bin AS l,
       |    CAST(b.kc - (a.kc - a.kk) AS DOUBLE)
       |      / CAST(b.nc - (a.nc - a.n) AS DOUBLE) AS r
       |  FROM iso_a a JOIN iso_a b ON b.k = a.k AND b.bin >= a.bin),
       |iso_m AS (SELECT i.k, i.bin AS i, r.j, MIN(r.r) AS mr
       |  FROM iso_a i JOIN iso_r r ON r.k = i.k AND r.j <= i.bin AND r.l >= i.bin
       |  GROUP BY 1, 2, 3),
       |iso_p AS (SELECT k, i, MAX(mr) AS rate_iso FROM iso_m GROUP BY 1, 2)
       |SELECT a.k AS key, a.bin, a.n, a.kk AS n_pos,
       |  CAST(a.kk AS DOUBLE) / CAST(a.n AS DOUBLE) AS rate_raw, p.rate_iso
       |FROM iso_a a JOIN iso_p p ON p.k = a.k AND p.i = a.bin
       |ORDER BY a.k, a.bin""".stripMargin

  /** The [[isotonicCalibration]] oracle generator: `scoredSql` must
    * yield `(label, score)`; the minimax lattice replays as two
    * grouped reductions over the (j ≤ i ≤ l) triple join of the bin
    * table with its own pair-ratio table — identical IEEE divisions,
    * identical min/max sets.
    *
    * ORACLE-SIDE BOUND: the iso_m stage is an O(B³) non-equi join
    * (bins × pair-ratio table). At the operator's allowed bins=1000
    * that is ~10⁹ join pairs — a multi-minute DuckDB run (the nested
    * pageRankSql lesson). Keep ORACLED uses at bins ≤ 64 (the
    * registered query uses 8); the operator itself is unaffected (its
    * driver lattice is O(B²) over collected longs).
    */
  def isotonicCalibrationSql(scoredSql: String, bins: Int): String =
    s"""WITH iso_g AS MATERIALIZED (
       |  SELECT LEAST(CAST(FLOOR(score * ${bins.toDouble}) AS BIGINT),
       |      ${(bins - 1).toLong}) AS bin,
       |    CAST(label AS BIGINT) AS y FROM ($scoredSql)
       |  WHERE score IS NOT NULL AND label IS NOT NULL),
       |iso_a AS MATERIALIZED (SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS k,
       |    CAST(SUM(count(*)) OVER (ORDER BY bin) AS BIGINT) AS nc,
       |    CAST(SUM(sum(y)) OVER (ORDER BY bin) AS BIGINT) AS kc
       |  FROM iso_g GROUP BY 1),
       |iso_r AS (SELECT a.bin AS j, b.bin AS l,
       |    CAST(b.kc - (a.kc - a.k) AS DOUBLE)
       |      / CAST(b.nc - (a.nc - a.n) AS DOUBLE) AS r
       |  FROM iso_a a JOIN iso_a b ON b.bin >= a.bin),
       |iso_m AS (SELECT i.bin AS i, r.j, MIN(r.r) AS mr
       |  FROM iso_a i JOIN iso_r r ON r.j <= i.bin AND r.l >= i.bin
       |  GROUP BY 1, 2),
       |iso_p AS (SELECT i, MAX(mr) AS rate_iso FROM iso_m GROUP BY 1)
       |SELECT a.bin, a.n, a.k AS n_pos,
       |  CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS rate_raw, p.rate_iso
       |FROM iso_a a JOIN iso_p p ON p.i = a.bin ORDER BY a.bin""".stripMargin

  /** Cohen's kappa (Cohen 1960) between two label columns over the
    * same rows — chance-corrected agreement, the standard
    * label-quality gate for human/judge annotations and for
    * comparing filter variants (does the trained classifier agree
    * with the heuristic gate beyond chance?). Output is ONE row:
    * `(n, agree, po, pe, kappa)` with po the observed agreement
    * rate, pe the marginal-product chance rate, and
    * kappa = (po − pe)/(1 − pe), NULL when pe = 1 (both raters
    * constant and identical — kappa undefined).
    *
    * Exactness: the contingency table is exact longs off ONE
    * map-side-combined aggregate (label-pair-sized — the
    * [[evalMetrics]] driver-safe-cardinality contract); agree and
    * the marginal cross-product are exact integer sums; po and pe
    * are each ONE division, kappa one subtraction-pair division —
    * the oracle replays the identical sequence. Null labels are
    * rejected loudly (the [[evalMetricsFromCounts]] rule).
    */
  def agreementKappa(
      rated: DataFrame,
      aCol: String,
      bCol: String
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = rated.sparkSession
    val cont = rated
      .groupBy(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect()
    require(cont.nonEmpty, "agreementKappa needs a non-empty frame")
    require(cont.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "agreementKappa requires non-null labels in both columns; " +
        "coalesce nulls to a sentinel label upstream")
    val n = cont.map(_.getLong(2)).sum
    val agree = cont.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    val aTot = cont.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val bTot = cont.groupBy(_.getString(1)).map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val cross = aTot.keysIterator.map(k => aTot(k) * bTot.getOrElse(k, 0L)).sum
    val po = agree.toDouble / n.toDouble
    val pe = cross.toDouble / (n * n).toDouble
    val kappa: Any = if (pe == 1.0) null else (po - pe) / (1.0 - pe)
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(n, agree, po, pe, kappa))
    // explicit-schema local relation (REPL-safe rule)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("agree", LongType, nullable = false),
      StructField("po", DoubleType, nullable = false),
      StructField("pe", DoubleType, nullable = false),
      StructField("kappa", DoubleType, nullable = true))))
  }

  /** Train a multinomial NB model on `docs` (every row labeled by
    * `labelCol`) and score the SAME corpus, emitting one row per
    * document: `(doc, actual, pred, score)` with `score` the winning
    * class's log-posterior (up to the shared evidence constant).
    *
    * Semantics (alpha-Laplace, alpha = 1):
    *   lprior(c)  = ln(N_c / N)
    *   llh(c, t)  = ln((cnt(c, t) + 1) / (tokens(c) + |V|)),  t ∈ V
    *   score(d,c) = lprior(c) + Σ_{t ∈ d ∩ V} tf(d, t) · llh(c, t)
    * Out-of-vocabulary terms at score time are ignored (the standard
    * multinomial-NB OOV policy). `minDf` prunes V to terms appearing in
    * at least that many documents (df off the already-checkpointed
    * token table): class token totals restrict to the kept vocabulary
    * (the model stays a proper distribution over V), pruned terms
    * simply have no model rows, so the OOV policy drops them at score
    * time for free. At `minDf = 1` the code path — and therefore the
    * plan and the oracle hash — is byte-identical to the unpruned
    * operator. Documents with no in-vocabulary tokens fall back to the
    * highest-prior class (tie toward the smaller label) with score =
    * that prior — the operator never drops a document.
    *
    * Exchange volume note: the dense model means the scoring join on
    * `term` fans every (doc, term) row by |classes| before the
    * per-(doc, label) aggregate — fine at realistic label counts
    * (2–100), and `minDf` is the lever when it isn't: pruning the
    * long-tail vocabulary shrinks the model AND the tokens × classes
    * fan-out together (tail terms are most of V but few of the
    * postings that survive pruning).
    *
    * Contract: labels must be non-NULL. A NULL label would form its
    * own class whose ORDER position differs between engines (Spark
    * sorts NULLS FIRST ascending, DuckDB NULLS LAST), silently
    * breaking the argmax tie-break — label your corpus (or filter)
    * before training.
    */
  def nbTrainScore(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      minDf: Int = 1
  ): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val base = docs.select(
      col(idCol).as("doc"), col(labelCol).as("actual"),
      TextOps.words(col(textCol)).as("ws"))

    // the one text-bearing stage — barrier so counts and scoring share it
    val tf = base
      .select(col("doc"), col("actual"), explode(col("ws")).as("term"))
      .groupBy(col("doc"), col("actual"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    trainAndScore(base, tf, tf, base, minDf)
  }

  /** Held-out NB scoring: train on `train`, score `applyDocs` — the
    * generalization-measuring twin of [[nbTrainScore]] (which scores
    * its own training corpus). Identical model semantics (same
    * Laplace smoothing, minDf prune, OOV-ignored scoring, prior-only
    * fallback — an apply doc whose every token is outside the TRAIN
    * vocabulary falls back exactly like a token-less one); `applyDocs`
    * carries its own labels so [[evalMetrics]] can grade the held-out
    * confusion. Both corpora tokenize once behind their own barriers.
    */
  def nbTrainApply(
      spark: SparkSession,
      train: DataFrame,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      minDf: Int = 1
  ): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    def baseOf(d: DataFrame) = d.select(
      col(idCol).as("doc"), col(labelCol).as("actual"),
      TextOps.words(col(textCol)).as("ws"))
    def tfOf(b: DataFrame) = b
      .select(col("doc"), col("actual"), explode(col("ws")).as("term"))
      .groupBy(col("doc"), col("actual"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val baseTr = baseOf(train)
    val baseAp = baseOf(applyDocs)
    trainAndScore(baseTr, tfOf(baseTr), tfOf(baseAp), baseAp, minDf)
  }

  /** The shared train→score core: the model builds from (`trainBase`,
    * `trainTf`), scoring runs over (`scoreTf`, `scoreBase`). When the
    * two pairs are the SAME frames this is byte-identical to the
    * original self-scoring plan (q_nb_classify's oracle-pinned shape).
    */
  private def trainAndScore(
      trainBase: DataFrame,
      trainTf: DataFrame,
      scoreTf: DataFrame,
      scoreBase: DataFrame,
      minDf: Int
  ): DataFrame = {
    val base = trainBase
    val tf = trainTf
    val classTermAll = tf.groupBy(col("actual").as("label"), col("term"))
      .agg(sum(col("tf")).as("cnt"))
      .localCheckpoint(false) // feeds totals, vocab AND the dense model
    // minDf = 1 keeps the unpruned path verbatim (identical plan);
    // otherwise df counts off the checkpointed token table gate both
    // the vocabulary and the class-term counts
    val (classTerm, vocab) =
      if (minDf <= 1) (classTermAll, classTermAll.select(col("term")).distinct())
      else {
        val kept = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= minDf)
          .select(col("term"))
          .localCheckpoint(false) // feeds the count prune AND the model spine
        (classTermAll.join(kept, Seq("term")), kept)
      }
    val vSize = vocab.agg(count(lit(1)).as("v"))

    val nDocs = base.agg(count(lit(1)).as("n"))
    val priors = base.groupBy(col("actual").as("label"))
      .agg(count(lit(1)).as("n_c"))
      .crossJoin(broadcast(nDocs))
      .select(col("label"),
        round(log(col("n_c").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
      .localCheckpoint(false) // tiny; feeds the model AND the fallback row

    // per-class token totals over V. Pruning can empty a class's kept
    // counts entirely — it must still smooth (tot = 0), so the pruned
    // branch spines totals off the full label set; the unpruned branch
    // keeps its original one-aggregate shape (identical plan at minDf=1)
    val classSums = classTerm.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val classTot =
      if (minDf <= 1) classSums
      else priors.select(col("label"))
        .join(classSums.withColumnRenamed("tot", "_t"), Seq("label"), "left")
        .select(col("label"), coalesce(col("_t"), lit(0L)).as("tot"))

    // dense model: every (class, vocab-term) pair — zero counts smooth
    // to alpha/(tot + V). classTot is classes-sized: broadcast; vocab
    // rides as the big side.
    val model = vocab
      .crossJoin(broadcast(classTot))
      .join(classTerm, Seq("label", "term"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("label"), col("term"),
        round(log(
          (coalesce(col("cnt"), lit(0L)).cast("double") + 1.0) /
            (col("tot").cast("double") + col("v").cast("double"))), 6)
          .cast("decimal(18,6)").as("llh"))

    // score: each doc term meets every class's row for that term
    val scored = scoreTf
      .join(model, Seq("term")) // vocab-keyed — no broadcast hint (see scaladoc)
      .groupBy(col("doc"), col("label"))
      .agg(sum(col("tf") * col("llh")).as("tsum"))
      .join(broadcast(priors), Seq("label"))
      .select(col("doc"), col("label"), (col("lp") + col("tsum")).as("total"))
    val win = row_number().over(
      Window.partitionBy(col("doc")).orderBy(col("total").desc, col("label")))
    val best = scored.withColumn("rk", win).filter(col("rk") === 1)
      .select(col("doc"), col("label").as("pred_t"), col("total"))

    // prior-only fallback for token-less docs: one row via
    // TakeOrderedAndProject (a partitionless window would trip the
    // EliminateWindowPartitions/WindowExec hazard — repo invariant)
    val fallback = priors.orderBy(col("lp").desc, col("label")).limit(1)
      .select(col("label").as("fb_label"), col("lp").as("fb_lp"))

    scoreBase.select(col("doc"), col("actual"))
      .join(best, Seq("doc"), "left")
      .crossJoin(broadcast(fallback))
      .select(
        col("doc"), col("actual"),
        coalesce(col("pred_t"), col("fb_label")).as("pred"),
        coalesce(col("total").cast("double"), col("fb_lp").cast("double")).as("score"))
  }

  /** Classification evaluation of any (actual, pred) scored frame —
    * the retrieval stack's rankingMetrics sibling: one row per class
    * (support, tp, fp, fn, precision, recall, f1) plus the
    * `(macro)` / `(micro)` summary rows. Labels compare as strings.
    *
    * Scale shape: ONE corpus aggregate — the (actual, pred)
    * contingency table, map-side combined into ≤ classes² rows — then
    * the metric math runs on the DRIVER over the collected counts and
    * re-enters as a local relation (the Association.rules control-
    * plane convention: one action, classes²-sized rows, and the
    * caller's executedPlan sees the whole aggregate).
    *
    * Exactness: counts are exact longs; each per-class metric is ONE
    * IEEE division of integers (f1 via its single-division form
    * `2·tp / (2·tp + fp + fn)`), never rounded. Undefined metrics
    * (zero denominator: a class never predicted has no precision, a
    * pred-only class no recall) surface as NULL in per-class rows and
    * count as 0 toward the macro means (the sklearn zero_division
    * convention). Macro means follow the per-term round(,6)→DECIMAL→
    * exact-sum→one-closing-division discipline; micro precision =
    * recall = f1 = accuracy for single-label multiclass, emitted from
    * the exact totals.
    */
  def evalMetrics(
      spark: SparkSession,
      scored: DataFrame,
      actualCol: String = "actual",
      predCol: String = "pred"
  ): DataFrame =
    evalMetricsFromCounts(spark,
      scored.groupBy(col(actualCol).cast("string").as("a"),
          col(predCol).cast("string").as("p"))
        .agg(count(lit(1)).as("n")),
      "a", "p", "n")

  /** [[evalMetrics]] from an ALREADY-AGGREGATED contingency frame
    * (actual, pred, n) — the bridge that lets a persisted confusion
    * table or the live [[graft.streaming.StreamingFeatures
    * .confusionStream]] counts feed the identical metric math: the
    * monitor accumulates exact mergeable integer counts, this grades
    * them. Same output contract as [[evalMetrics]].
    */
  def evalMetricsFromCounts(
      spark: SparkSession,
      counts: DataFrame,
      actualCol: String,
      predCol: String,
      nCol: String
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cont = counts
      .groupBy(col(actualCol).cast("string").as("a"), col(predCol).cast("string").as("p"))
      .agg(sum(col(nCol)).as("n"))
      .collect()
    require(cont.nonEmpty, "evalMetrics needs a non-empty scored frame")
    // a null actual/pred label would NPE in the sort below and violate
    // the nullable=false label column — fail naming the contract
    // instead (callers coalesce to a sentinel string if null means
    // "abstained")
    require(cont.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "evalMetrics requires non-null actual and pred labels; " +
        "coalesce nulls to a sentinel label (e.g. '(none)') upstream")
    val labels = cont.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
    def q6(x: Double): java.math.BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).underlying
    val perClass = labels.map { l =>
      val support = cont.filter(_.getString(0) == l).map(_.getLong(2)).sum
      val predN = cont.filter(_.getString(1) == l).map(_.getLong(2)).sum
      val tp = cont.filter(r => r.getString(0) == l && r.getString(1) == l)
        .map(_.getLong(2)).sum
      val fp = predN - tp
      val fn = support - tp
      val precision = if (tp + fp > 0) Some(tp.toDouble / (tp + fp)) else None
      val recall = if (tp + fn > 0) Some(tp.toDouble / (tp + fn)) else None
      val f1 = if (2 * tp + fp + fn > 0) Some((2 * tp).toDouble / (2 * tp + fp + fn)) else None
      (l, support, tp, fp, fn, precision, recall, f1)
    }
    val total = cont.map(_.getLong(2)).sum
    val tpTot = perClass.map(_._3).sum
    val acc = if (total > 0) tpTot.toDouble / total else 0.0
    def macroOf(get: ((String, Long, Long, Long, Long, Option[Double], Option[Double], Option[Double])) => Option[Double]): Double =
      perClass.map(c => q6(get(c).getOrElse(0.0)))
        .reduce(_ add _).doubleValue / perClass.length
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row("(macro)", total, null, null, null,
      macroOf(_._6), macroOf(_._7), macroOf(_._8)))
    rows.add(Row("(micro)", total, tpTot, total - tpTot, total - tpTot, acc, acc, acc))
    perClass.foreach { case (l, s, tp, fp, fn, p, r, f) =>
      rows.add(Row(l, s, tp, fp, fn, p.orNull, r.orNull, f.orNull))
    }
    // explicit-schema local relation (REPL-safe rule: no product-encoder
    // toDF in library code)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("label", StringType, nullable = false),
      StructField("support", LongType, nullable = false),
      StructField("tp", LongType, nullable = true),
      StructField("fp", LongType, nullable = true),
      StructField("fn", LongType, nullable = true),
      StructField("precision", DoubleType, nullable = true),
      StructField("recall", DoubleType, nullable = true),
      StructField("f1", DoubleType, nullable = true))))
  }

  /** The [[evalMetrics]] oracle generator over any scored-frame SQL
    * producing (actual, pred) — the identical contingency → per-class
    * divisions → quantized macro means, replayed in DuckDB.
    */
  def evalMetricsSql(scoredSql: String): String =
    s"""WITH sc AS (
       |  SELECT CAST(actual AS VARCHAR) AS a, CAST(pred AS VARCHAR) AS p
       |  FROM ($scoredSql)),
       |cont AS (SELECT a, p, count(*) AS n FROM sc GROUP BY 1, 2),
       |lbl AS (SELECT a AS label FROM cont UNION SELECT p FROM cont),
       |aa AS (SELECT a AS label, CAST(sum(n) AS BIGINT) AS support,
       |    CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp_a
       |  FROM cont GROUP BY 1),
       |pp AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS pred_n FROM cont GROUP BY 1),
       |pc AS (SELECT l.label,
       |    COALESCE(support, 0) AS support, COALESCE(tp_a, 0) AS tp,
       |    COALESCE(pred_n, 0) - COALESCE(tp_a, 0) AS fp,
       |    COALESCE(support, 0) - COALESCE(tp_a, 0) AS fn
       |  FROM lbl l LEFT JOIN aa USING (label) LEFT JOIN pp USING (label)),
       |pm AS (SELECT label, support, tp, fp, fn,
       |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
       |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
       |    CASE WHEN 2*tp + fp + fn > 0
       |      THEN CAST(2*tp AS DOUBLE) / (2*tp + fp + fn) END AS f1
       |  FROM pc),
       |tot AS (SELECT CAST(sum(support) AS BIGINT) AS total,
       |    CAST(sum(tp) AS BIGINT) AS tp_tot, count(*) AS n_classes,
       |    CAST(sum(CAST(round(COALESCE(prec, 0), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*) AS mp,
       |    CAST(sum(CAST(round(COALESCE(rec, 0), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*) AS mr,
       |    CAST(sum(CAST(round(COALESCE(f1, 0), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*) AS mf
       |  FROM pm)
       |SELECT label, support, tp, fp, fn, "precision", recall, f1 FROM (
       |  SELECT '(macro)' AS label, total AS support,
       |    CAST(NULL AS BIGINT) AS tp, CAST(NULL AS BIGINT) AS fp,
       |    CAST(NULL AS BIGINT) AS fn,
       |    mp AS "precision", mr AS recall, mf AS f1 FROM tot
       |  UNION ALL
       |  SELECT '(micro)', total, tp_tot, total - tp_tot, total - tp_tot,
       |    CAST(tp_tot AS DOUBLE) / total, CAST(tp_tot AS DOUBLE) / total,
       |    CAST(tp_tot AS DOUBLE) / total FROM tot
       |  UNION ALL
       |  SELECT label, support, tp, fp, fn, prec, rec, f1 FROM pm)
       |ORDER BY label""".stripMargin

  /** ROC-AUC of a binary scorer — the threshold-free ranking metric
    * next to [[evalMetrics]]' fixed-threshold confusion and
    * [[calibrationBins]]' reliability: the probability a random
    * positive outranks a random negative, ties at half credit. One
    * row: `(positives, negatives, auc)`; degenerate single-class
    * input yields NULL auc rather than a 0/0 NaN.
    *
    * Exactness — the Mann–Whitney rank form with tie-averaged ranks
    * kept INTEGER: a tie group of `c` rows starting at rank `a`
    * contributes `p · (2a + c − 1) = p · (2·cum − c + 1)` to TWICE
    * the positive rank sum (doubling clears the .5 halves), so
    * AUC = (2Σr⁺ − P(P+1)) / (2PN) is integer arithmetic —
    * DECIMAL(38,0) ≡ DuckDB HUGEINT — down to ONE closing division.
    * Score the INTEGER margin (margin_micro), not the sigmoid double,
    * when grading the LR family: monotone-identical ranking, integer
    * group keys.
    *
    * Scale shape: one (score) aggregate, then the global rank cumsum
    * rides [[graft.core.GlobalOrder.withPrefix]]'s two-pass range
    * partition — NEVER a single-partition window over the distinct
    * scores — and a one-row reduce closes it.
    */
  def auc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val g = df.select(col(scoreCol).as("_s"), col(labelCol).cast("long").as("_y"))
      .groupBy(col("_s")).agg(count(lit(1)).as("c"), sum(col("_y")).as("p"))
    val b = graft.core.GlobalOrder.withPrefix(g, Seq(col("_s")), col("c"), "cum", "_rk").df
    b.agg(
        sum(col("p").cast(dec) *
          (lit(2L).cast(dec) * col("cum").cast(dec) - col("c").cast(dec) + lit(1L).cast(dec)))
          .as("t2"),
        sum(col("p")).as("pos"), sum(col("c") - col("p")).as("neg"))
      .select(col("pos").as("positives"), col("neg").as("negatives"),
        when(col("pos") > 0 && col("neg") > 0,
          (col("t2") - col("pos").cast(dec) * (col("pos") + lit(1L)).cast(dec)).cast("double")
            / (lit(2L).cast(dec) * col("pos").cast(dec) * col("neg").cast(dec)).cast("double"))
          .as("auc"))
  }

  /** The [[auc]] oracle generator: `scoredSql` must yield the label
    * and score columns; HUGEINT mirrors the DECIMAL(38,0) rank
    * arithmetic, the distinct-score cumsum is an ordered window
    * (scores unique post-GROUP BY — no peer-frame ambiguity).
    */
  def aucSql(scoredSql: String, labelCol: String, scoreCol: String): String =
    s"""WITH auc_g AS (SELECT $scoreCol AS s, CAST(count(*) AS BIGINT) AS c,
       |    CAST(SUM($labelCol) AS BIGINT) AS p FROM ($scoredSql) GROUP BY 1),
       |auc_b AS (SELECT p, c, CAST(SUM(c) OVER (ORDER BY s) AS BIGINT) AS cum FROM auc_g),
       |auc_t AS (SELECT
       |    CAST(SUM(CAST(p AS HUGEINT) *
       |      (2 * CAST(cum AS HUGEINT) - CAST(c AS HUGEINT) + 1)) AS HUGEINT) AS t2,
       |    CAST(SUM(p) AS BIGINT) AS pos, CAST(SUM(c - p) AS BIGINT) AS neg FROM auc_b)
       |SELECT pos AS positives, neg AS negatives,
       |  CASE WHEN pos > 0 AND neg > 0 THEN
       |    CAST(t2 - CAST(pos AS HUGEINT) * CAST(pos + 1 AS HUGEINT) AS DOUBLE)
       |      / CAST(2 * CAST(pos AS HUGEINT) * CAST(neg AS HUGEINT) AS DOUBLE)
       |  END AS auc
       |FROM auc_t""".stripMargin
}
