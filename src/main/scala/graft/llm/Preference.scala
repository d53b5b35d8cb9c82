package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Preference aggregation for RLHF-style data pipelines: turn a
  * stream of pairwise comparisons (A beat B) into per-item strength
  * ratings via the Bradley–Terry model, fitted with the classic MM
  * iteration (Hunter 2004, "MM algorithms for generalized
  * Bradley-Terry models"):
  *
  *   p_i ← W_i / Σ_j n_ij / (p_i + p_j),   then normalize Σp = 1
  *
  * — the standard way to rank completions / models / documents from
  * human or judge A/B verdicts before reward-model training.
  *
  * Cross-engine FP discipline: the Graph.pageRank fixed-point scheme —
  * strengths live as BIGINT nano-units, per-pair MM terms quantize via
  * `floor(x + 0.5)` over identically-sequenced IEEE ops (micro-unit
  * scale for the denominator terms, 1e15 scale for the unnormalized
  * update), all sums exact integers, so the unrolled DuckDB oracle
  * matches bit-for-bit and shuffle order cannot matter.
  *
  * Scale shape: the reduction from raw comparisons to (winner, loser)
  * counts is the only corpus-sized exchange (map-side combined);
  * every MM iteration then runs on the distinct-pair frame — two
  * item-keyed joins and one item-keyed sum per iteration, each
  * localCheckpoint'd to cap lineage. Items can be millions (prompts,
  * documents); pairs are whatever the comparison graph holds.
  *
  * Degenerate guards: zero-win items converge to the 1-nano-unit
  * floor (never a 0/0); `p_i + p_j ≥ 2` always, so no division by
  * zero even on all-loser subgraphs. The model itself is only
  * identified on a connected comparison graph — disconnected
  * components rate independently (document your graph).
  */
object Preference {

  private val Nano = 1.0e9
  private val Micro = 1.0e6
  private val RScale = 1.0e15

  /** Fit Bradley–Terry strengths from a (winner, loser) match frame.
    * Output: (item, wins, n_matches, rating) with Σ rating ≈ 1,
    * ordered by nothing (caller sorts). `iters` MM rounds (3 is
    * plenty for ranking stability; the fit is monotone).
    */
  def bradleyTerry(
      matches: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 3
  ): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in 1..20, got $iters")
    val m = matches.select(col(winnerCol).as("w"), col(loserCol).as("l"))
    val wl = m.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val sym = wl.select(col("w").as("a"), col("l").as("b"), col("n"))
      .unionAll(wl.select(col("l").as("a"), col("w").as("b"), col("n")))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("nab"))
      .localCheckpoint(false)
    val wins = wl.groupBy(col("w").as("a")).agg(sum(col("n")).as("wi"))
    val items = sym.select(col("a")).distinct()
    val base = items.join(wins, Seq("a"), "left")
      .select(col("a"), coalesce(col("wi"), lit(0L)).as("wi"))
      .localCheckpoint(false)
    val nm = sym.groupBy(col("a")).agg(sum(col("nab")).as("n_matches"))
    // item count: control-plane scalar; p0 repeats the oracle's
    // in-engine floor(1e9/k + 0.5) op-for-op on the driver
    val k = items.count()
    val p0 = math.floor(Nano / k + 0.5).toLong

    val p = graft.core.Rounds.run("bradleyTerry", items.select(col("a"), lit(p0).as("p")), iters) {
      (p, _) =>
        val terms = sym
          .join(p.select(col("a"), col("p").as("pa")), "a")
          .join(p.select(col("a").as("b"), col("p").as("pb")), "b")
          .select(col("a"),
            floor(col("nab").cast("double") * lit(Nano) /
              (col("pa") + col("pb")).cast("double") * lit(Micro) + lit(0.5)).as("t"))
        val denom = terms.groupBy(col("a")).agg(sum(col("t")).as("d"))
        val r = base.join(denom, "a")
          .select(col("a"),
            floor(col("wi").cast("double") / col("d").cast("double") * lit(RScale) +
              lit(0.5)).as("r"))
        val tot = r.agg(sum(col("r")).as("tr"))
        (graft.core.Rounds.checkpoint(r.crossJoin(broadcast(tot))
          .select(col("a"),
            greatest(
              floor(col("r").cast("double") * lit(Nano) / col("tr").cast("double") +
                lit(0.5)),
              lit(1L)).as("p"))), false)
    }.state
    base.join(nm, "a").join(p, "a")
      .select(col("a").as("item"), col("wi").as("wins"), col("n_matches"),
        (col("p").cast("double") / lit(Nano)).as("rating"))
  }

  /** Conservative pairwise win-rate ranking — the Wilson score lower
    * bound (Wilson 1927; the how-not-to-sort-by-average-rating
    * ranking rule) at a fixed z, the single-pass companion to
    * [[bradleyTerry]]: where BT fits a global strength model over the
    * comparison graph, the Wilson bound ranks each item by the worst
    * plausible value of its OWN win rate, punishing small samples —
    * the right default for "which completion wins" dashboards and for
    * pruning low-confidence preference pairs before reward training.
    *
    * Output per item: wins, losses, games, `win_rate`, `wilson_low`.
    * Exactness: wins/losses are exact longs off two map-side-combined
    * aggregates (one exchange each, keyed by item); the rate is one
    * division and the bound one fixed IEEE sequence over it — z and
    * z² enter as shared double literals, so the DuckDB replica
    * ([[winRatesSql]]) is bit-identical with no rounding anywhere.
    */
  def winRates(
      matches: DataFrame,
      winnerCol: String,
      loserCol: String,
      z: Double = 1.96
  ): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val z2 = z * z
    val m = matches.select(col(winnerCol).as("w"), col(loserCol).as("l"))
    val wins = m.groupBy(col("w").as("item")).agg(count(lit(1)).as("wins"))
    val losses = m.groupBy(col("l").as("item")).agg(count(lit(1)).as("losses"))
    val base = wins.join(losses, Seq("item"), "full")
      .select(col("item"),
        coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("losses"), lit(0L)).as("losses"))
      .withColumn("games", col("wins") + col("losses"))
    val n = col("games").cast("double")
    val p = col("wins").cast("double") / n
    val low =
      (p + lit(z2) / (lit(2.0) * n) -
        lit(z) * sqrt(p * (lit(1.0) - p) / n + lit(z2) / (lit(4.0) * n * n))) /
        (lit(1.0) + lit(z2) / n)
    base.select(col("item"), col("wins"), col("losses"), col("games"),
      p.as("win_rate"), low.as("wilson_low"))
  }

  /** The DuckDB oracle for [[winRates]]: same literals, same op
    * sequence. `matchesSql` must yield (winner, loser) rows.
    */
  def winRatesSql(matchesSql: String, z: Double = 1.96): String = {
    val zS = s"CAST(${new java.math.BigDecimal(z).toPlainString} AS DOUBLE)"
    val z2S = s"CAST(${new java.math.BigDecimal(z * z).toPlainString} AS DOUBLE)"
    s"""WITH m AS MATERIALIZED ($matchesSql),
       |wn AS (SELECT winner AS item, CAST(count(*) AS BIGINT) AS wins FROM m GROUP BY 1),
       |ls AS (SELECT loser AS item, CAST(count(*) AS BIGINT) AS losses FROM m GROUP BY 1),
       |b AS (SELECT COALESCE(wn.item, ls.item) AS item,
       |        COALESCE(wins, 0) AS wins, COALESCE(losses, 0) AS losses,
       |        COALESCE(wins, 0) + COALESCE(losses, 0) AS games
       |      FROM wn FULL JOIN ls ON wn.item = ls.item)
       |SELECT item, wins, losses, games,
       |  CAST(wins AS DOUBLE) / CAST(games AS DOUBLE) AS win_rate,
       |  (CAST(wins AS DOUBLE) / CAST(games AS DOUBLE)
       |     + $z2S / (2.0 * CAST(games AS DOUBLE))
       |     - $zS * sqrt(CAST(wins AS DOUBLE) / CAST(games AS DOUBLE)
       |         * (1.0 - CAST(wins AS DOUBLE) / CAST(games AS DOUBLE))
       |         / CAST(games AS DOUBLE)
       |         + $z2S / (4.0 * CAST(games AS DOUBLE) * CAST(games AS DOUBLE))))
       |  / (1.0 + $z2S / CAST(games AS DOUBLE)) AS wilson_low
       |FROM b ORDER BY item""".stripMargin
  }

  /** The DuckDB oracle for [[bradleyTerry]], unrolled: `matchesSql`
    * must yield (winner, loser) rows. Generated from the same
    * constants so both engines run bit-identical arithmetic.
    */
  def bradleyTerrySql(matchesSql: String, iters: Int = 3): String = {
    val nano = "CAST(1000000000 AS DOUBLE)"
    val micro = "CAST(1000000 AS DOUBLE)"
    val rs = "CAST(1000000000000000 AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH m AS (SELECT winner AS w, loser AS l FROM ($matchesSql)),
         |wl AS (SELECT w, l, count(*) AS n FROM m GROUP BY 1, 2),
         |sym AS (SELECT a, b, CAST(SUM(n) AS BIGINT) AS nab FROM (
         |    SELECT w AS a, l AS b, n FROM wl
         |    UNION ALL SELECT l AS a, w AS b, n FROM wl) GROUP BY 1, 2),
         |wins AS (SELECT w AS a, CAST(SUM(n) AS BIGINT) AS wi FROM wl GROUP BY 1),
         |items AS (SELECT DISTINCT a FROM sym),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM items),
         |base AS (SELECT i.a, COALESCE(w.wi, 0) AS wi
         |  FROM items i LEFT JOIN wins w ON w.a = i.a),
         |nm AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS n_matches FROM sym GROUP BY 1),
         |p0 AS (SELECT a, CAST(floor($nano / (SELECT CAST(k AS DOUBLE) FROM kk) + 0.5)
         |    AS BIGINT) AS p FROM items)""".stripMargin)
    for (i <- 1 to iters) {
      val prev = s"p${i - 1}"
      sb.append(",\n")
      sb.append(
        s"""t$i AS (SELECT s.a, CAST(floor(CAST(s.nab AS DOUBLE) * $nano
           |    / CAST(pa.p + pb.p AS DOUBLE) * $micro + 0.5) AS BIGINT) AS t
           |  FROM sym s JOIN $prev pa ON pa.a = s.a JOIN $prev pb ON pb.a = s.b),
           |d$i AS (SELECT a, CAST(SUM(t) AS BIGINT) AS d FROM t$i GROUP BY 1),
           |r$i AS (SELECT b.a, CAST(floor(CAST(b.wi AS DOUBLE) / CAST(d.d AS DOUBLE)
           |    * $rs + 0.5) AS BIGINT) AS r
           |  FROM base b JOIN d$i d ON d.a = b.a),
           |tr$i AS (SELECT CAST(SUM(r) AS BIGINT) AS tr FROM r$i),
           |p$i AS (SELECT a, GREATEST(CAST(floor(CAST(r AS DOUBLE) * $nano
           |    / (SELECT CAST(tr AS DOUBLE) FROM tr$i) + 0.5) AS BIGINT),
           |    CAST(1 AS BIGINT)) AS p FROM r$i)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT b.a AS item, b.wi AS wins, nm.n_matches,
         |  CAST(p.p AS DOUBLE) / $nano AS rating
         |FROM base b JOIN nm ON nm.a = b.a JOIN p$iters p ON p.a = b.a
         |ORDER BY item""".stripMargin)
    sb.toString
  }
}
