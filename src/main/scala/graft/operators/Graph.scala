package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Iterative graph analytics over edge-list DataFrames. First member:
  * PageRank (Page et al. 1999, "The PageRank Citation Ranking") — the
  * classic link-quality signal web-curation pipelines rank domains
  * with (harmonic-centrality stand-in at Common-Crawl scale) — plus
  * its personalized variant (restart mass over a seed set: proximity
  * ranking to a trusted whitelist, the TrustRank shape).
  *
  * Cross-engine FP discipline — fixed-point, not round(): ranks live
  * as BIGINT nano-units (Σ ≈ 1e9) between iterations. Every
  * quantization is `floor(x + 0.5)` over doubles produced by an
  * IDENTICAL operation sequence in both engines — multiplication,
  * division, floor are single IEEE ops with no rounding-mode freedom,
  * so the quantized longs are bit-identical by construction. (The
  * first cut used round(x, 9)→DECIMAL; DuckDB's double round() is a
  * scaled multiply-round whose last ulp disagrees with Java's
  * BigDecimal HALF_UP often enough that ~200k quantizations per
  * iteration drifted the 9th decimal. floor-based fixed-point has no
  * such freedom.) All sums are exact integer arithmetic, so shuffle
  * order cannot matter and errors cannot compound differently.
  *
  * Scale shape: one shuffle per iteration — the per-source share
  * (rank/outdeg) joins the edge list on `src` (both sides partitioned
  * by the same key) and partial-aggregates into per-`dst` BIGINT sums
  * below the exchange (8-byte rank units, never doubles or decimals,
  * through the wire). The dangling-mass correction is a one-row exact
  * aggregate COLLECTED per round (one control-plane long re-entering
  * as a literal — the Association.rules convention; the earlier
  * `crossJoin(broadcast(...))` planned a one-row
  * BroadcastNestedLoopJoin per iteration, harmless but against the
  * repo's no-nested-loop plan invariant). The collect doubles as a
  * per-round barrier: each iteration ends in a lazy
  * `localCheckpoint(false)` — without it the two references to the
  * previous round's ranks (shares + dangling scan) double the plan
  * per iteration, and at cluster scale the checkpoint is what caps
  * lineage/recovery depth for long power-iteration runs; the dangling
  * aggregate's action materializes it round-by-round.
  */
object Graph {

  private val Scale = 1000000000L // nano-rank units

  /** Both orientations of every `(a, b)` row — `(a, b, rest…)` and
    * `(b, a, rest…)` — off ONE scan of `df`: an `e ∪ swap(e)` union
    * would plan (and run) `df` twice, and an unmaterialized input is
    * often a join. Columns come back as `a, b, rest…`.
    */
  private[graft] def bothWays(df: DataFrame, a: String, b: String): DataFrame = {
    val rest = df.columns.filterNot(c => c == a || c == b).map(col).toSeq
    df.select(explode(array(
        struct(col(a) +: col(b) +: rest: _*),
        struct(col(b).as(a) +: col(a).as(b) +: rest: _*))).as("_e"))
      .select(col("_e.*"))
  }

  /** The canonical undirected edge set: distinct `(a, b)` longs with
    * a < b, self-loops dropped.
    */
  private def canonicalPairs(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** PageRank over a directed edge list, PREPARED once: returns a
    * [[PreparedPageRank]] whose `ranks` runs the power iteration,
    * `converge` iterates to a tolerance and `mutate` applies an edge
    * delta. Ranks come back as (node, rank) with rank = nano-units /
    * 1e9 as double; Σ ranks ≈ 1.
    *
    * - Uniform (the defaults): duplicate edges are collapsed first
    *   (each distinct (src, dst) link contributes once — the
    *   citation-graph convention); dangling nodes (in-links only)
    *   redistribute their mass uniformly each round, per the paper.
    * - `seeds` (a frame with a `node` column): personalized PageRank —
    *   both the (1−d) teleport and the dangling mass return to the
    *   seed set, so ranks measure random-walk proximity TO the seeds
    *   (TrustRank / topic-sensitive PageRank). Seeds outside the graph
    *   are ignored; at least one seed must be a graph node.
    * - `weight`: each out-edge carries a positive integer weight
    *   (duplicate (src, dst) rows sum), and a node distributes rank ∝
    *   weight/Σ out-weights — trade volume, link count, co-click
    *   strength. Uniform is weight ≡ 1 through the identical op
    *   sequence, so every combination shares one core and one oracle
    *   generator ([[pageRankSql]] with `seedsSql` / `weighted`).
    *
    * The data-bound prep — edge canonicalization, out-degree join,
    * dangling flags, seed count — runs HERE, once. Every `ranks` /
    * `converge` call on the returned value iterates over the same
    * checkpointed frames, so a warm-start pair (N rounds, persistable
    * handoff, M more) costs prep + N+M rounds, not 2·prep + N+M.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Option[DataFrame] = None,
      weight: Option[org.apache.spark.sql.Column] = None
  ): PreparedPageRank = {
    // uniform = every edge at weight 1: r·1.0 is the identical double,
    // so unifying the weighted op sequence changes no uniform result
    val e = (weight match {
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().withColumn("w", lit(1L))
      case Some(wc) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), wc.cast("long").as("w"))
        .filter(col("w") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }).localCheckpoint(false)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    // the out-degree is STATIC across rounds, so it joins onto the edge
    // table ONCE here (8 extra bytes/edge in the checkpoint) instead of
    // shuffling outdeg into the share join every iteration — one join
    // per round, not two, at any scale.
    //
    // NOTE (r14, measured, REVERTED): a layout-declared checkpoint
    // (repartition(n, src) + sortWithinPartitions + re-declaring
    // HashPartitioning/ordering on the LogicalRDD leaf, so the rounds'
    // share joins skip the static side's exchange+sort — the bucketed-
    // table shape, guide §2.4) was built and A/B'd here in three forms:
    // pinned shuffle-width (1.2–2.7× regression at sf0.1 — a declared
    // layout is exempt from AQE coalescing and pins every downstream
    // stage to its width), advisory-sized (still slower where AQE
    // broadcast the evolving side), and advisory-sized-with-a-≥2-
    // partition gate (neutral at sf0.1; at sf1 clean 5-run floors
    // measured q_pagerank 14.89 s vs 12.82 s on the plain checkpoint —
    // the extra materialization pass + second cached copy of the edge
    // table cost more than the per-round exchange it saved under this
    // host's memory budget). The plain checkpoint wins at every scale
    // this environment can measure; the full numbers are in
    // OPTIMIZATION_r14.md §5.
    val e2 = e.join(outdeg, Seq("src")).localCheckpoint(false)
    // dangling-ness is equally static: flag it on the node table once,
    // so the per-round dangling-mass scalar is a plain aggregate over r
    // (no per-round anti-join shuffle of the full rank frame)
    val hasOut = outdeg.select(col("src").as("node"), lit(1).as("_hs"))
    // uniform PageRank IS the personalized walk seeded on every node —
    // one code path, one oracle generator, `sf` the restart indicator
    val nodes = (seeds match {
      case None => nodes0.select(col("node"), lit(1).as("sf"))
      case Some(s) => nodes0
        .join(s.select(col("node"), lit(1).as("_sf")).distinct(), Seq("node"), "left")
        .select(col("node"), coalesce(col("_sf"), lit(0)).as("sf"))
    }).join(hasOut, Seq("node"), "left")
      .select(col("node"), col("sf"),
        when(col("_hs").isNull, 1).otherwise(0).as("dang"))
      .localCheckpoint(false)
    // seed count: a control-plane scalar (one distributed agg). The
    // driver-side doubles in `iterate` repeat the exact op sequence the
    // oracle runs in-engine (floor(1e9/sn + 0.5), ((1-d)/sn)*1e9), so
    // the shared constants are bit-identical without shipping sn.
    val sn = nodes.agg(sum(col("sf"))).collect()(0).getLong(0)
    require(sn > 0, "at least one seed must be a node of the graph")
    new PreparedPageRank(srcCol, dstCol, seeds.isEmpty && weight.isEmpty, e, e2, nodes, sn)
  }

  /** An immutable prepared pageRank graph (built by [[pageRank]]): the
    * checkpointed distinct edges, the edge ⋈ out-degree table, the node
    * table with restart and dangling flags, and the seed count. Each
    * method reads these frames and returns new ones; none re-runs the
    * prep.
    */
  final class PreparedPageRank private[Graph] (
      srcCol: String,
      dstCol: String,
      uniform: Boolean, // no seeds, no weights: the scope of `mutate`
      eDist: DataFrame, // distinct (src, dst, w)
      e2: DataFrame, // eDist ⋈ out-degree: (src, dst, w, deg)
      nodes: DataFrame, // (node, sf, dang)
      sn: Long // seed count
  ) {

    /** `iters` damped power-iteration rounds. `init` resumes from a
      * previous run's OUTPUT `(node, rank)` — the long-run restart
      * economy: persist the ranks after N rounds, restart later, and
      * `ranks(M, init = Some(first))` lands BIT-IDENTICALLY on the
      * N+M-round result. Exactness hinges on the handoff: output ranks
      * are `nano / 1e9`, and re-quantizing with `floor(rank·1e9 + 0.5)`
      * recovers the nano longs exactly (the two roundings err by
      * ≤ n·4e−16 ≪ 0.5 at the 1e9 scale), so the resumed fixed-point
      * state equals the uninterrupted one and every later round is the
      * identical integer arithmetic — which is why the unrolled
      * [[pageRankSql]] at N+M iterations oracles the split run
      * verbatim. Nodes absent from `init` resume at rank 0.
      */
    def ranks(
        iters: Int = 5,
        damping: Double = 0.85,
        init: Option[DataFrame] = None
    ): DataFrame =
      iterate(iters, damping, init, tolNano = 0L)._1

    /** [[ranks]] with CONVERGENCE-BASED early exit instead of a fixed
      * round budget: iterate until the largest per-node nano-rank
      * change of a round is ≤ `tolNano` (exact long comparison — one
      * extra node-keyed join + one-row collect per round,
      * control-plane) or `maxIters` rounds, and report
      * `(ranks, roundsRun)`. The operational form of the warm-start
      * economy: the spec pins that a one-edge delta from a converged
      * state needs strictly fewer rounds than the cold start at the
      * same tolerance.
      */
    def converge(
        tolNano: Long,
        maxIters: Int = 50,
        damping: Double = 0.85,
        init: Option[DataFrame] = None
    ): (DataFrame, Int) = {
      require(tolNano > 0, s"tolNano must be positive, got $tolNano")
      iterate(maxIters, damping, init, tolNano)
    }

    /** Incremental PageRank over an EDGE DELTA — the feature-store-native
      * increment (the reference's whole premise is incrementally
      * maintained state, `ralf/operator.py:236-259`) applied to the
      * graph family: the graph `(edges ∖ removed) ∪ added`, prepared for
      * refresh rounds warm-started from this graph's persisted ranks
      * (`mutate(a, r).ranks(k, init = Some(old))`), so a small edge
      * churn needs a few refresh rounds instead of a cold restart.
      * `added` / `removed` carry the edge columns this graph was built
      * with. Nodes that exist only in removed edges drop out (their
      * mass leaves the system — the next refresh renormalizes via the
      * teleport term); brand-new nodes enter at rank 0 and fill from the
      * restart mass. Unweighted, uniform-restart graphs only.
      *
      * The delta applies over this graph's already-DISTINCT checkpointed
      * edge table, not the raw (duplicate-bearing) input, so the
      * anti-join + union shuffles the distinct pair count. Set
      * equivalence: distinct(distinct(E)∖R ∪ A) = distinct((E∖R) ∪ A),
      * and every downstream op is exact integer arithmetic over that
      * set — so the ranks are bit-identical to preparing the mutated
      * raw edge list, and the oracle is [[pageRankSql]] over the mutated
      * edge set with `initSql` replaying the warm start. Warm-starting
      * changes the ROUND COUNT, not the per-round plan: see [[converge]].
      */
    def mutate(added: DataFrame, removed: DataFrame): PreparedPageRank = {
      require(uniform, "mutate applies to unweighted, uniform-restart graphs only")
      // NOTE (r14, measured): a fully incremental second prep — delta-
      // maintained out-degrees (deg' = deg − removed + added), delta-
      // recomputed node flags, anti/semi-join edge maintenance — was
      // built and A/B'd for the r13-verdict-#3 item and REVERTED: the
      // q_pagerank_delta delta is ~10% of the graph (adds ck%10, removes
      // sk%17), so the "broadcast the delta" joins degrade to full
      // sort-merge passes over the old edge set, and the extra stages
      // measured q_pagerank_delta 7.8→10.2 s at sf0.1 and 31.8→53.1 s
      // at sf1 (same-window A/Bs). The full rebuild's distinct + one
      // map-side-combined out-degree aggregate is the better plan at any
      // delta size a bench exercises; the incremental form only pays
      // off for genuinely control-plane-sized churn.
      val cols = Seq(srcCol, dstCol)
      val mutated = eDist.select(col("src").as(srcCol), col("dst").as(dstCol))
        .join(removed.select(cols.map(col): _*), cols, "left_anti")
        .unionAll(added.select(cols.map(col): _*))
      pageRank(mutated, srcCol, dstCol)
    }

    private def iterate(
        iters: Int,
        damping: Double,
        init: Option[DataFrame],
        tolNano: Long
    ): (DataFrame, Int) = {
      require(iters >= 1 && iters <= 50, s"iters must be in 1..50, got $iters")
      require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
      val r0 = math.floor(Scale.toDouble / sn + 0.5).toLong
      val baseScaled = (1.0 - damping) / sn * Scale.toDouble

      val r0Frame = init match {
        case None => nodes.select(col("node"), col("sf"), col("dang"),
          when(col("sf") === 1, lit(r0)).otherwise(lit(0L)).as("rank"))
        // Rounds.checkpoint: a warm-start init may itself be a prior
        // run's output carrying compounded origin stats
        case Some(i) => Rounds.checkpoint(nodes
          .join(i.select(col("node"),
            floor(col("rank").cast("double") * lit(1.0e9) + lit(0.5)).as("_rn")),
            Seq("node"), "left")
          .select(col("node"), col("sf"), col("dang"),
            coalesce(col("_rn"), lit(0L)).as("rank")))
      }
      val out = Rounds.run("pageRank", r0Frame, iters) { (r, _) =>
        val share = e2
          .join(r.select(col("node"), col("rank")), col("node") === col("src"))
          .select(col("dst").as("cnode"),
            floor(col("rank").cast("double") * col("w").cast("double") /
              col("deg").cast("double") + lit(0.5)).as("share"))
        val contrib = share
          .groupBy(col("cnode"))
          .agg(sum(col("share")).as("csum"))
        // dangling mass: ONE long, collected and re-entered as a literal
        // (floor(toDouble / toDouble + 0.5) is the identical IEEE
        // sequence the oracle runs in-engine, so the literal is
        // bit-identical to the engine-side division it replaces). The
        // long sum over the static dang flag equals the former
        // anti-join sum exactly (integer addition, order-free).
        val dsum = r
          .agg(coalesce(sum(when(col("dang") === 1, col("rank"))), lit(0L)).as("dsum"))
          .collect()(0).getLong(0)
        val dshare = math.floor(dsum.toDouble / sn.toDouble + 0.5).toLong
        val next = Rounds.checkpoint(nodes
          .join(contrib, col("node") === col("cnode"), "left")
          .select(col("node"), col("sf"), col("dang"),
            floor(
              when(col("sf") === 1, lit(baseScaled)).otherwise(lit(0.0)) +
                lit(damping) * (coalesce(col("csum"), lit(0L)) +
                  when(col("sf") === 1, lit(dshare)).otherwise(lit(0L))).cast("double") +
                lit(0.5)).as("rank")))
        // convergence probe: largest per-node nano-rank move this round
        // — exact longs, one node-keyed join + a one-row collect
        val converged = tolNano > 0L && r.select(col("node"), col("rank").as("_pr"))
          .join(next.select(col("node"), col("rank")), Seq("node"))
          .agg(coalesce(max(abs(col("rank") - col("_pr"))), lit(0L)))
          .collect()(0).getLong(0) <= tolNano
        (next, converged)
      }
      (out.state.select(col("node"),
        (col("rank").cast("double") / lit(Scale.toDouble)).as("rank")), out.rounds)
    }
  }

  /** The DuckDB oracle for [[pageRank]], unrolled: `edgesSql` must
    * yield (src, dst) rows — plus `w` when `weighted`; `seedsSql`, when
    * given, must yield seed `node` rows; `initSql` replays a warm start.
    * Generated from the same constants so both engines run
    * bit-identical arithmetic; kept next to the operator so the two can
    * never drift.
    */
  def pageRankSql(
      edgesSql: String,
      iters: Int = 5,
      damping: Double = 0.85,
      seedsSql: Option[String] = None,
      weighted: Boolean = false,
      initSql: Option[String] = None,
      prefix: String = ""
  ): String = {
    val p = prefix
    val d = s"CAST(${new java.math.BigDecimal(damping).toPlainString} AS DOUBLE)"
    val oneMinus =
      s"CAST(${new java.math.BigDecimal(1.0 - damping).toPlainString} AS DOUBLE)"
    val snD = s"(SELECT CAST(sn AS DOUBLE) FROM ${p}ss)"
    val nodesCte = seedsSql match {
      case None =>
        s"${p}nodes AS MATERIALIZED (SELECT node, 1 AS sf FROM ${p}nodes0)"
      case Some(sql) =>
        s"""${p}sd AS (SELECT DISTINCT node FROM ($sql)),
           |${p}nodes AS MATERIALIZED (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS sf
           |  FROM ${p}nodes0 n LEFT JOIN ${p}sd s ON s.node = n.node)""".stripMargin
    }
    val r0Cte = initSql match {
      case None =>
        s"""${p}r0 AS (SELECT node, sf, CASE WHEN sf = 1
           |  THEN CAST(floor(CAST($Scale AS DOUBLE) / $snD + 0.5) AS BIGINT)
           |  ELSE 0 END AS rank
           |  FROM ${p}nodes)""".stripMargin
      case Some(isql) =>
        // warm start: requantize persisted double ranks exactly as
        // `ranks(init = …)` does (floor(rank*1e9 + 0.5)); absent nodes
        // resume at 0. A nested pageRankSql init MUST be generated
        // with a distinct `prefix` — DuckDB resolves colliding CTE
        // names against the OUTER definition (the modularitySql rule).
        s"""${p}ini AS MATERIALIZED ($isql),
           |${p}r0 AS (SELECT nd.node, nd.sf,
           |  COALESCE(CAST(floor(CAST(i.rank AS DOUBLE)
           |    * CAST($Scale AS DOUBLE) + 0.5) AS BIGINT), 0) AS rank
           |  FROM ${p}nodes nd LEFT JOIN ${p}ini i ON i.node = nd.node)""".stripMargin
    }
    val sb = new StringBuilder
    sb.append(
      (if (weighted)
        s"""WITH ${p}e AS MATERIALIZED (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w
           |  FROM ($edgesSql) WHERE w > 0 GROUP BY 1, 2),""".stripMargin
      else
        s"""WITH ${p}e AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w
           |  FROM (SELECT DISTINCT src, dst FROM ($edgesSql))),""".stripMargin) +
      s"""
         |
         |${p}nodes0 AS (SELECT src AS node FROM ${p}e UNION SELECT dst FROM ${p}e),
         |$nodesCte,
         |${p}ss AS (SELECT CAST(sum(sf) AS BIGINT) AS sn FROM ${p}nodes),
         |${p}outdeg AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM ${p}e GROUP BY 1),
         |$r0Cte""".stripMargin)
    for (i <- 1 to iters) {
      val prev = s"${p}r${i - 1}"
      sb.append(",\n")
      sb.append(
        s"""${p}sh$i AS (SELECT e.dst AS cnode,
           |  CAST(floor(CAST(r.rank AS DOUBLE) * CAST(e.w AS DOUBLE)
           |    / CAST(od.deg AS DOUBLE) + 0.5) AS BIGINT) AS share
           |  FROM ${p}e e JOIN $prev r ON r.node = e.src
           |  JOIN ${p}outdeg od ON od.src = e.src),
           |${p}cs$i AS (SELECT cnode, CAST(SUM(share) AS BIGINT) AS csum
           |  FROM ${p}sh$i GROUP BY 1),
           |${p}dg$i AS (SELECT CAST(floor(
           |    CAST(COALESCE(SUM(r.rank), 0) AS DOUBLE) / $snD + 0.5) AS BIGINT) AS dshare
           |  FROM $prev r WHERE r.node NOT IN (SELECT src FROM ${p}outdeg)),
           |${p}r$i AS (SELECT nd.node, nd.sf,
           |  CAST(floor(CASE WHEN nd.sf = 1
           |      THEN $oneMinus / $snD * CAST($Scale AS DOUBLE) ELSE 0.0 END +
           |      $d * CAST(COALESCE(cs.csum, 0) +
           |        CASE WHEN nd.sf = 1 THEN dg.dshare ELSE 0 END AS DOUBLE) +
           |      0.5) AS BIGINT) AS rank
           |  FROM ${p}nodes nd
           |  LEFT JOIN ${p}cs$i cs ON cs.cnode = nd.node
           |  CROSS JOIN ${p}dg$i dg)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT node, CAST(rank AS DOUBLE) / CAST($Scale AS DOUBLE) AS rank
         |FROM ${p}r$iters ORDER BY node""".stripMargin)
    sb.toString
  }

  /** Bounded-hop single/multi-source shortest paths over a directed
    * edge list — the proximity feature next to personalized [[pageRank]]
    * (hop distance to a trusted seed set is the classic TrustRank
    * pre-filter, and min-cost distance is its weighted form): returns
    * `(node, dist)` for every node reachable from `seeds` within
    * `maxHops` edges, `dist` the minimum total edge weight over such
    * paths (unit weights = BFS hop count). Exact for any graph whose
    * relevant paths fit in `maxHops`; a larger bound only adds rounds.
    *
    * Exactness: distances are BIGINT end to end (weights are required
    * positive integers; duplicate (src, dst) edges keep the MINIMUM
    * weight) — min-plus relaxation over exact longs, so shuffle order
    * cannot matter and the unrolled oracle ([[shortestPathsSql]])
    * agrees bit-for-bit.
    *
    * Scale shape — FRONTIER relaxation (delta-BFS): each round joins
    * the edge list against only the nodes whose distance IMPROVED
    * last round, not the whole reached set — on real graphs the
    * frontier collapses after the first few hops, so late rounds cost
    * a fraction of dist × edges (the naive shape this replaced). The
    * min re-aggregate partial-combines below its node-keyed exchange;
    * the frontier derives from a node-keyed equi-join against the
    * previous distances; each round ends in a lazy localCheckpoint
    * (lineage cap) and one control-plane emptiness probe EARLY-EXITS
    * the loop once the frontier drains — `maxHops` is then a safe
    * upper bound, not a forced cost (converged results are identical:
    * further rounds relax nothing). No windows, no nested loops.
    */
  def shortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      maxHops: Int,
      weight: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    require(maxHops >= 0 && maxHops <= 50, s"maxHops must be in 0..50, got $maxHops")
    val e = (weight match {
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().withColumn("w", lit(1L))
      case Some(wc) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), wc.cast("long").as("w"))
        .filter(col("w") > 0)
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    }).localCheckpoint(false)
    val dist0 = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(false)
    Rounds.run("shortestPaths", (dist0, dist0), maxHops) { case ((dist, frontier), _) =>
      val relaxed = frontier
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val next = Rounds.checkpoint(dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      // improved-only frontier: new nodes, or a strictly smaller dist
      val improved = Rounds.checkpoint(next
        .join(dist.select(col("node"), col("dist").as("_prev")), Seq("node"), "left")
        .filter(col("_prev").isNull || col("dist") < col("_prev"))
        .select(col("node"), col("dist")))
      // ONE control-plane count per round (the pageRank dangling-
      // collect precedent); an empty frontier means converged — every
      // remaining round would relax nothing
      ((next, improved), Rounds.countWhere(improved, lit(true)) == 0L)
    }.state._1
  }

  /** The [[shortestPaths]] oracle generator: unrolled min-plus CTEs,
    * one per hop, over `(src, dst[, w])` edge SQL and seed `node` SQL —
    * the same integer relaxation, so results agree exactly.
    */
  def shortestPathsSql(
      edgesSql: String,
      seedsSql: String,
      maxHops: Int,
      weighted: Boolean = false
  ): String = {
    val sb = new StringBuilder
    sb.append(
      (if (weighted)
        s"""WITH e AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
           |  FROM ($edgesSql) WHERE w > 0 GROUP BY 1, 2),""".stripMargin
      else
        s"""WITH e AS (SELECT src, dst, CAST(1 AS BIGINT) AS w
           |  FROM (SELECT DISTINCT src, dst FROM ($edgesSql))),""".stripMargin) +
      s"""
         |d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ($seedsSql))""".stripMargin)
    for (i <- 1 to maxHops) {
      sb.append(
        s""",
           |d$i AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst, d.dist + e.w FROM d${i - 1} d JOIN e ON e.src = d.node)
           |  GROUP BY 1)""".stripMargin)
    }
    sb.append(s"\nSELECT node, dist FROM d$maxHops ORDER BY node")
    sb.toString
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, made deterministic): labels start as node ids; each of
    * `iters` rounds, every node adopts the label most frequent among
    * its neighbors, ties to the SMALLEST label (the usual random
    * tie-break replaced by a total order so runs — and the oracle —
    * are reproducible; fixed iterations, since sync LPA may oscillate
    * rather than converge). A node with edges but no same-round
    * neighbor majority keeps its label. Self-loops are ignored, and
    * the node set derives from the LOOP-FREE undirected edge list —
    * a node whose only edges are self-loops is absent from the output
    * entirely (the oracle generator shares this contract).
    *
    * Exactness: labels and counts are integers end to end — nothing
    * to quantize; the per-round argmax is a (count desc, label asc)
    * window rank, identical in both engines.
    *
    * Scale shape: one shuffle per round — neighbor labels partial-
    * count below the (node, label) exchange, the per-node argmax rides
    * a node-partitioned window over that aggregate (rows = distinct
    * neighbor labels per node, not edges), and the new label joins
    * back on the node key. Each round ends in a lazy localCheckpoint —
    * the [[pageRank]] lineage cap — and one control-plane probe
    * EARLY-EXITS once a round changes no label (a fixed point of the
    * deterministic update: every remaining round is a no-op, so the
    * result — and the fixed-iteration oracle — is unchanged and
    * `iters` becomes a safe upper bound).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int
  ): DataFrame =
    lpaCore(edges, srcCol, dstCol, iters)._1

  /** [[labelPropagation]] + its [[modularity]] audit with ONE shared
    * symmetric-distinct edge table (r14, the r13-verdict-#5 shared-
    * subtree fix for q_graph_modularity): the two-operator form
    * canonicalized + distinct-shuffled the same edge list twice — once
    * symmetric inside the LPA loop, once (a ≤ b) inside modularity.
    * The canonical frame IS the symmetric frame restricted to
    * src < dst (every unordered pair appears in both directions in the
    * symmetric distinct set), so the audit derives it with a narrow
    * filter over the loop's checkpoint instead of a second full
    * distinct. Values are identical by construction — same label
    * frame, same edge multiset — so the unchanged two-operator oracle
    * still matches bit-for-bit.
    */
  def labelPropagationModularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int
  ): DataFrame = {
    val (labels, sym) = lpaCore(edges, srcCol, dstCol, iters)
    val und = sym.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    modularityFromCanonical(und,
      labels.select(col("node").cast("long").as("node"), col("label").cast("long").as("label")))
  }

  /** The [[labelPropagation]] loop, returning `(labels, sym)` — sym is
    * the symmetric distinct edge table (src-keyed declared layout) so
    * fused callers ([[labelPropagationModularity]]) can reuse it.
    */
  private def lpaCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int
  ): (DataFrame, DataFrame) = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    val und = bothWays(
        edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")),
        "src", "dst")
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    val labels0 = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(false)
    val labels = Rounds.run("labelPropagation", labels0, iters) { (labels, _) =>
      // argmax as a map-side-combinable AGGREGATE, not a window (r14,
      // guide §2.4): `min(struct(-c, label))` is lexicographic —
      // largest count first, ties to the smallest label — exactly the
      // former row_number().over(dst, c desc, label).filter(rk = 1)
      // row, but with a partial combine below the dst exchange and no
      // per-partition sort (WindowExec sorts its whole input). Counts
      // are ≥ 1, so the negation cannot overflow.
      val next = und
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct(negate(col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("dst").as("node"), col("m.l").as("nlabel"))
      val updated = Rounds.checkpoint(labels.join(next, Seq("node"), "left")
        .select(col("node"), col("label").as("_old"),
          coalesce(col("nlabel"), col("label")).as("label")))
      // one job: materializes the round checkpoint AND counts changes
      (updated.select(col("node"), col("label")),
        Rounds.countWhere(updated, col("label") =!= col("_old")) == 0L)
    }.state
    (labels, und)
  }

  /** The [[labelPropagation]] oracle generator: unrolled CTEs, one per
    * round, over any `(src, dst)` edge SQL — the same
    * integer argmax, so results agree exactly.
    */
  def labelPropagationSql(edgesSql: String, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS ($edgesSql),
         |und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
         |  WHERE src <> dst),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |n$i AS (
           |  SELECT dst AS node, label, count(*) AS c
           |  FROM und JOIN l${i - 1} l ON l.node = und.src
           |  GROUP BY 1, 2),
           |b$i AS (
           |  SELECT node, label AS nlabel FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |    FROM n$i) WHERE rk = 1),
           |l$i AS (
           |  SELECT l.node, coalesce(b.nlabel, l.label) AS label
           |  FROM l${i - 1} l LEFT JOIN b$i b ON b.node = l.node)""".stripMargin)
    }
    sb.append(s"\nSELECT node, label FROM l$iters ORDER BY node")
    sb.toString
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph (self-loops and duplicate/reversed edges
    * normalized away first) — the graph-quality audit next to
    * [[pageRank]]: high-triangle neighborhoods are communities,
    * zero-clustering hubs are link-spam shapes.
    *
    * Scale shape — degree-oriented wedge counting (Schank & Wagner
    * 2005, the MapReduce-standard formulation): every edge orients
    * from its lower to its higher endpoint in (degree, id) order, so
    * each triangle is counted EXACTLY once at its lowest-degree apex
    * and the wedge join fans out by the out-degree of that apex —
    * Σ out-deg² is bounded where the naive per-node square is
    * quadratic in hub degree (the skew economy: a 10⁷-degree hub
    * contributes wedges only through edges pointing AT it). The
    * (degree, id) order is packed into one long `deg·2³² + id` so
    * orientation and wedge ordering are single integer compares
    * through the joins (ids must be non-negative ints — require'd).
    * Three shuffles total: degree count, the wedge self-join on the
    * apex, the closing-edge equi-join; counts are exact integers and
    * the coefficient is ONE IEEE division (never rounded — a rounded
    * rational can land on a .5 boundary; the raw double is identical
    * in both engines).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val idMax = 1L << 31
    val und = canonicalPairs(edges, srcCol, dstCol)
      .localCheckpoint(false) // feeds degrees, orientation AND the closing join
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // feeds the okey joins AND the final report
    val badId = deg.filter(col("node") < 0 || col("node") >= idMax).limit(1).count()
    require(badId == 0, s"triangleCount requires node ids in [0, 2^31)")
    val keyed = und
      .join(deg.select(col("node").as("a"), (col("deg") * idMax + col("a")).as("ka")), "a")
      .join(deg.select(col("node").as("b"), (col("deg") * idMax + col("b")).as("kb")), "b")
    val oriented = keyed.select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
        greatest(col("ka"), col("kb")).as("kv"))
      .localCheckpoint(false) // both wedge sides + the closing edge set
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.u") === col("o2.u") && col("o1.kv") < col("o2.kv"))
      .select(col("o1.u").as("u"), col("o1.v").as("v"), col("o2.v").as("w"))
    val tri = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(
        col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          (coalesce(col("triangles"), lit(0L)) * 2L).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Connected components over an undirected edge frame: (node,
    * component) with `component` = the minimum node id reachable from
    * `node`. The vertex universe is the edge endpoints, self-loop-only
    * nodes included (an isolated node is invisible to an edge list —
    * pre-union a self-loop if it must appear). A row with a NULL
    * endpoint is dropped: it names no edge, and `greatest`/`least`
    * would otherwise turn `(x, NULL)` into a self-loop.
    *
    * The two-phase large-star/small-star alternation (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014, "Connected
    * Components in MapReduce and Beyond"). Each round rewires edges
    * toward local minima — large-star hangs every neighbor LARGER than
    * u off u's minimum, small-star collapses each node's SMALLER
    * neighbors onto theirs — and the edge set provably stays
    * component-preserving while converging to disjoint min-rooted stars
    * in O(log² n) rounds regardless of diameter or hub degree (min-label
    * propagation needs O(diameter) rounds and re-shuffles the hot
    * component in every one). Per-round shuffle volume is bounded by
    * 2·|E| id pairs (large-star emits at most one edge per symmetrized
    * input edge, small-star exactly one per oriented edge): a degree-d
    * hub costs d aggregate rows with map-side combine, never d².
    *
    * The input plan runs once: one canonical `(greatest, least)`
    * distinct edge checkpoint feeds both the vertex universe and the
    * loop. Rounds are checkpointed (lineage cap); the fixed point is
    * detected by the star test in ONE map-side-combined aggregate per
    * round; past `maxIter` it fails loudly rather than return labels
    * that split a true component.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50
  ): DataFrame =
    starRun(edges, srcCol, dstCol, maxIter)._1

  /** [[connectedComponents]] plus per-round oriented-edge counts
    * (post-distinct, the per-round shuffle row bound) — the spec hook
    * for the planted-hub volume pin.
    */
  private[graft] def starRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int
  ): (DataFrame, Seq[Long]) = {
    val (a, b) = (col(srcCol), col(dstCol))
    // canonical orientation throughout: (u, v) with u >= v. LAZY
    // checkpoint: the starStats aggregate right below is a full scan
    // and doubles as its materializing action
    val canon = edges.filter(a.isNotNull && b.isNotNull)
      .select(greatest(a, b).as("u"), least(a, b).as("v"))
      .distinct().localCheckpoint(false)
    // the vertex universe keeps self-loop-only nodes; the star loop
    // drops self-loops (they never change connectivity)
    val nodes = canon.select(explode(array(col("u"), col("v"))).as("node")).distinct()
    val e0 = canon.filter(col("u") =!= col("v"))
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    // an input that already is a star forest runs no round
    val out =
      if (starStats(e0)._1 == 0L) Rounds.Outcome(e0, 0, converged = true)
      else Rounds.run("connectedComponents", e0, maxIter) { (e, _) =>
        // large-star: for every node x, hang each neighbor LARGER than x
        // off m(x) = min(Γ(x) ∪ {x}); output keeps the (big, small)
        // orientation because m(x) <= x < neighbor
        val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        val ls = sym.join(mins, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
          .distinct()
        // small-star: collapse each node's smaller neighborhood onto its
        // minimum — one output edge per input edge, orientation kept
        val minsS = ls.groupBy(col("u")).agg(min(col("v")).as("mn"))
        // lazy: the round's starStats full-scan aggregate materializes
        // it — one action per round
        val next = Rounds.checkpoint(ls.join(minsS, Seq("u"))
          .select(
            when(col("v") === col("mn"), col("u")).otherwise(col("v")).as("nu"),
            col("mn").as("nv"))
          .filter(col("nu") =!= col("nv"))
          .select(col("nu").as("u"), col("nv").as("v"))
          .distinct())
        val (viol, nEdges) = starStats(next)
        sizes += nEdges
        (next, viol == 0L)
      }
    // the alternation needs O(log² n) rounds; past maxIter the labels
    // could split a true component
    if (!out.converged) throw Rounds.NotConverged("connectedComponents", maxIter)
    val labels = nodes
      .join(out.state.select(col("u").as("node"), col("v").as("component")), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    (labels, sizes.toSeq)
  }

  /** Fixed-point test for the star alternation, fused with the edge
    * count: the edge set is a disjoint union of min-rooted stars iff
    * no node appears on the big side twice (a leaf with two parents)
    * and no node appears on both sides (a center that is itself a
    * leaf). Returns (violating nodes, |E|) — |E| = Σ nbig rides the
    * same aggregate, so each round costs ONE union + one map-side-
    * combined aggregate + a 2-long driver collect (the pageRank
    * dangling-mass shape), not a star test AND a count job.
    */
  private def starStats(e: DataFrame): (Long, Long) = {
    // ONE scan of e (r14): the former two-branch union read the edge
    // checkpoint twice — racy double-compute now that the round
    // checkpoint is lazy and this aggregate is its materializing
    // action. Exploding both endpoints from one row is the identical
    // (node, big) multiset off a single pass.
    val row = e
      .select(explode(array(
        struct(col("u").as("node"), lit(1L).as("big")),
        struct(col("v").as("node"), lit(0L).as("big")))).as("nb"))
      .select(col("nb.node").as("node"), col("nb.big").as("big"))
      .groupBy(col("node"))
      .agg(sum(col("big")).as("nbig"), min(col("big")).as("mnb"))
      .agg(
        coalesce(sum(when(
          col("nbig") > 1 || (col("nbig") >= 1 && col("mnb") === 0), 1L)), lit(0L)),
        coalesce(sum(col("nbig")), lit(0L)))
      .collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  /** Bounded-round k-core decomposition (Seidman 1983, "Network
    * structure and minimum degree"; the Batagelj–Zaveršnik peel run
    * synchronously): repeatedly delete every node whose degree in the
    * SURVIVING graph is < k; what remains is the k-core. Undirected
    * simple graph (edges symmetrized + deduped once, checkpointed).
    *
    * Round = one semi-join of the symmetric edge list against the
    * alive set on EACH endpoint + one map-side-combined degree
    * aggregate + the >= k filter — all hash-partitioned equi-ops, no
    * windows. The alive set shrinks monotonically; each round is
    * checkpointed (lineage cap) and costs one control-plane count for
    * the early exit at the fixed point (the pageRank dangling-collect
    * precedent). `rounds` bounds cost, not correctness-at-fixed-point:
    * once no node is removed the remaining rounds are no-ops, so a
    * converged run equals the exact k-core and the unrolled oracle
    * ([[kCoreSql]]) agrees round for round regardless.
    *
    * Output: (node, deg) for surviving nodes, `deg` RECOMPUTED against
    * the final alive set — well-defined whether or not the bound
    * converged.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"rounds must be in 1..50, got $rounds")
    val sym = bothWays(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), "src", "dst")
      .distinct().localCheckpoint(false)
    def degrees(alive: DataFrame): DataFrame =
      sym
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val alive0 = sym.select(col("src").as("node")).distinct().localCheckpoint(false)
    val (alive, _) = Rounds.run("kCore", (alive0, alive0.count()), rounds) { case ((alive, n), _) =>
      val next = Rounds.checkpoint(degrees(alive).filter(col("deg") >= k).select(col("node")))
      val m = next.count()
      ((next, m), m == n)
    }.state
    degrees(alive).filter(col("deg") >= k)
  }

  /** The [[kCore]] oracle generator: unrolled peel CTEs, one per
    * round, over `(src, dst)` edge SQL — the same synchronous
    * delete-below-k rounds, final degrees recomputed on the last
    * alive set.
    */
  def kCoreSql(edgesSql: String, k: Int, rounds: Int): String = {
    // AS MATERIALIZED throughout: DuckDB re-evaluates multiply-
    // referenced CTEs (the q_training_run lesson) — each peel round
    // references sym and a_{r-1} twice, so the un-hinted unroll
    // re-scans the edge source exponentially
    val header =
      s"""WITH e0 AS MATERIALIZED ($edgesSql),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM e0
         |  UNION
         |  SELECT dst AS src, src AS dst FROM e0),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT s.src AS node FROM sym s
         |  JOIN a${r - 1} x ON s.src = x.node
         |  JOIN a${r - 1} y ON s.dst = y.node
         |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
    }
    s"""$header,
       |${peels.mkString(",\n")}
       |SELECT s.src AS node, count(*) AS deg FROM sym s
       |JOIN a$rounds x ON s.src = x.node
       |JOIN a$rounds y ON s.dst = y.node
       |GROUP BY 1 HAVING count(*) >= $k
       |ORDER BY node""".stripMargin
  }

  /** The [[connectedComponents]] oracle: recursive-closure CTEs over
    * the `pairs` CTE's `(a, b)` columns, every name prefixed by
    * `prefix` so several closures can share one `WITH RECURSIVE`.
    * `${prefix}e` symmetrizes the pairs (rows with a NULL endpoint
    * dropped, the operator's rule), `${prefix}reach` is the transitive
    * closure and `${prefix}comp(node, component)` labels every node
    * with the least id reachable from it (itself included).
    */
  def componentsCtes(pairs: String, a: String, b: String, prefix: String): String = {
    val (e, r) = (s"${prefix}e", s"${prefix}reach")
    s"""$e AS (
       |  SELECT $a AS src, $b AS dst FROM $pairs WHERE $a IS NOT NULL AND $b IS NOT NULL
       |  UNION
       |  SELECT $b AS src, $a AS dst FROM $pairs WHERE $a IS NOT NULL AND $b IS NOT NULL),
       |$r AS (
       |  SELECT src, dst FROM $e
       |  UNION
       |  SELECT $r.src, $e.dst FROM $r JOIN $e ON $r.dst = $e.src),
       |${prefix}comp AS (
       |  SELECT src AS node, least(src, min(dst)) AS component
       |  FROM $r GROUP BY src)""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources
    * in a Hyperlinked Environment") — the second classic link-quality
    * signal next to [[pageRank]], and the natural one for BIPARTITE
    * curation graphs (buyers↔suppliers, queries↔documents,
    * crawlers↔hosts): a good hub points at good authorities, a good
    * authority is pointed at by good hubs. Returns
    * `(node, hub, auth)`, each score L1-normalized to ≈ 1 per side.
    *
    * Cross-engine FP discipline — the [[pageRank]] fixed-point recipe:
    * scores live as BIGINT nano-units between half-steps; each
    * half-step sums the opposite side's units EXACTLY (integer
    * addition, shuffle-order-free) and renormalizes with
    * `floor(raw · 1e9 / Σraw + 0.5)` — single IEEE multiply, divide,
    * floor with no rounding-mode freedom, so [[hitsSql]]'s unroll
    * lands bit-identically. (Raw sums stay well inside BIGINT: a raw
    * authority sum is ≤ 1e9 · max-degree.) The per-side normalizer is
    * ONE long collected per half-step and re-entered as a literal
    * (the dangling-mass convention); its action doubles as the
    * barrier that materializes the lazy localCheckpoint capping each
    * round's lineage.
    *
    * Scale shape: two shuffles per half-step — the node-keyed score
    * joins the edge list on that side's key (partial-aggregated
    * below the exchange, 8-byte units through the wire), then the
    * renormalized frame re-keys on `node`. No windows, no nested
    * loops, no driver-side data beyond the one-long normalizers.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3
  ): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in 1..50, got $iters")
    // NOTE (r14, measured): layout-declared src/dst copies of the edge
    // table (hash-partitioned+sorted checkpoints with the layout
    // re-declared on the leaf) were A/B'd here and REVERTED — AQE
    // already broadcast-joins the node-sized score table at the scales
    // a bench exercises, so the claims saved nothing while the extra
    // materialization passes cost 1.2–2.7× (sf0.1 and sf1, same-window
    // A/Bs; full numbers in OPTIMIZATION_r14.md §5).
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    require(n > 0, "hits requires a non-empty edge list")
    val h0 = math.floor(Scale.toDouble / n + 0.5).toLong
    // one half-step: the `from` side's units flow along the edges from
    // its `key` endpoint and sum at the `to` endpoint (checkpointed: it
    // feeds the normalizer AND the join back), then renormalize
    def half(from: DataFrame, key: String, to: String, name: String): DataFrame = {
      val raw = Rounds.checkpoint(e.join(from.toDF(key, "s"), key)
        .groupBy(col(to)).agg(sum(col("s")).as("raw")))
      val total = raw.agg(coalesce(sum(col("raw")), lit(0L))).collect()(0).getLong(0)
      require(total > 0, s"$name mass vanished — every edge's $key end scores 0")
      Rounds.checkpoint(nodes.join(raw, col("node") === col(to), "left")
        .select(col("node"),
          floor(coalesce(col("raw"), lit(0L)).cast("double") * lit(Scale.toDouble) /
            lit(total.toDouble) + lit(0.5)).as(name)))
    }
    val init = (nodes.select(col("node"), lit(h0).as("hub")), nodes.select(col("node"), lit(0L).as("auth")))
    val (hub, auth) = Rounds.run("hits", init, iters) { case ((hub, _), _) =>
      val auth = half(hub, "src", "dst", "auth")
      ((half(auth, "dst", "src", "hub"), auth), false)
    }.state
    hub.join(auth, Seq("node"))
      .select(col("node"),
        (col("hub").cast("double") / lit(Scale.toDouble)).as("hub"),
        (col("auth").cast("double") / lit(Scale.toDouble)).as("auth"))
  }

  /** The [[hits]] oracle generator — unrolled half-step CTEs over any
    * `(src, dst)` edge SQL, generated from the same constants so both
    * engines run the identical fixed-point arithmetic.
    */
  def hitsSql(edgesSql: String, iters: Int = 3): String = {
    val scaleD = s"CAST($Scale AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |h0 AS (SELECT node, CAST(floor($scaleD
         |  / (SELECT CAST(n AS DOUBLE) FROM nn) + 0.5) AS BIGINT) AS hub FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(",\n")
      sb.append(
        s"""ar$i AS (SELECT e.dst AS node, CAST(SUM(h.hub) AS BIGINT) AS araw
           |  FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
           |asm$i AS (SELECT CAST(COALESCE(SUM(araw), 0) AS BIGINT) AS s FROM ar$i),
           |a$i AS (SELECT nd.node, CAST(floor(CAST(COALESCE(ar.araw, 0) AS DOUBLE)
           |    * $scaleD / CAST(sq.s AS DOUBLE) + 0.5) AS BIGINT) AS auth
           |  FROM nodes nd LEFT JOIN ar$i ar ON ar.node = nd.node CROSS JOIN asm$i sq),
           |hr$i AS (SELECT e.src AS node, CAST(SUM(a.auth) AS BIGINT) AS hraw
           |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1),
           |hsm$i AS (SELECT CAST(COALESCE(SUM(hraw), 0) AS BIGINT) AS s FROM hr$i),
           |h$i AS (SELECT nd.node, CAST(floor(CAST(COALESCE(hr.hraw, 0) AS DOUBLE)
           |    * $scaleD / CAST(sq.s AS DOUBLE) + 0.5) AS BIGINT) AS hub
           |  FROM nodes nd LEFT JOIN hr$i hr ON hr.node = nd.node CROSS JOIN hsm$i sq)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT h.node, CAST(h.hub AS DOUBLE) / $scaleD AS hub,
         |  CAST(a.auth AS DOUBLE) / $scaleD AS auth
         |FROM h$iters h JOIN a$iters a ON a.node = h.node ORDER BY h.node""".stripMargin)
    sb.toString
  }

  /** Newman modularity of a node partition over an undirected graph —
    * the quality audit for [[labelPropagation]] / [[connectedComponents]]
    * output (is this community structure better than chance?): per
    * community `c`, Q_c = e_c/m − (d_c/2m)², with `e_c` the edges
    * inside `c`, `d_c` its degree sum, `m` the undirected edge count;
    * Q = Σ Q_c. Returns one row per community —
    * `(label, nodes, internal_edges, degree_sum, q_contrib, q_total)`
    * — with the corpus Q repeated on every row. Nodes the `labels` frame misses default to
    * singleton communities of themselves.
    *
    * Exactness: everything up to the final divisions is integer —
    * edges canonicalize to distinct `(min, max)` pairs (self-loops
    * dropped), counts and degree sums are exact longs, and the
    * numerator `2·(2m)·e_c − d_c²` is DECIMAL(38,0) (128-bit, scale
    * 0: no precision-loss trimming applies) against DuckDB HUGEINT,
    * so Q's single closing division is one IEEE op over identical
    * integers in both engines — never rounded.
    *
    * Scale shape: one distinct-edge exchange, one degree aggregate,
    * two node-keyed label joins, one (label) aggregate. The totals —
    * `m2` (a long) and Σ num (Σ_c num_c = 2·m2·Σe_c − Σd_c², exact
    * BigInt) — are scalars of ONE reduce over the checkpointed
    * per-label frame, re-entered as long / DECIMAL(38,0) literals: no
    * single-partition window over a frame that grows with the
    * community count.
    */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String = "node",
      labelCol: String = "label"
  ): DataFrame = {
    val und = canonicalPairs(edges, srcCol, dstCol)
      .localCheckpoint(false) // feeds degrees AND the internal-edge join
    val lab = labels.select(
      col(nodeCol).cast("long").as("node"), col(labelCol).cast("long").as("label"))
    modularityFromCanonical(und, lab)
  }

  /** [[modularity]] over an ALREADY-CANONICAL undirected edge frame —
    * `und` must be distinct `(a, b)` pairs with a < b, checkpointed
    * (or otherwise cheap to scan twice). Factored out (r14) so callers
    * that already hold the canonical frame — [[labelPropagationModularity]]
    * derives it from the LPA loop's own symmetric distinct table —
    * skip the redundant canonicalization shuffle the public operator
    * pays on arbitrary input.
    */
  private[graft] def modularityFromCanonical(
      und: DataFrame,
      lab: DataFrame
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val nd = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(lab, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"), col("deg"))
      .localCheckpoint(false) // feeds the per-label aggregate AND both endpoint joins
    val perLabel = nd.groupBy(col("label"))
      .agg(count(lit(1)).as("nodes"), sum(col("deg")).as("degree_sum"))
    val eIn = und
      .join(nd.select(col("node").as("a"), col("label").as("la")), "a")
      .join(nd.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(count(lit(1)).as("internal_edges"))
      .withColumnRenamed("la", "label")
    val pl = perLabel.join(eIn, Seq("label"), "left")
      .select(col("label"), col("nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"))
      .localCheckpoint(false) // feeds the totals AND the per-label rows
    // (m2, Σe_c, Σd_c²) in ONE job that also fills the checkpoint: a
    // reduce returns per-task partials to the driver, where a global
    // aggregate would add a single-partition exchange (a job of its own)
    val (m2, sumE, sumD2) = pl.select(col("degree_sum"), col("internal_edges")).rdd
      .map(r => (r.getLong(0), r.getLong(1), BigInt(r.getLong(0)) * r.getLong(0)))
      .fold((0L, 0L, BigInt(0))) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val sumNum = BigInt(2) * m2 * sumE - sumD2
    val den = lit(m2).cast(dec) * lit(m2).cast(dec)
    pl.select(col("label"), col("nodes"), col("internal_edges"), col("degree_sum"),
      ((lit(2L).cast(dec) * lit(m2).cast(dec) * col("internal_edges").cast(dec)
        - col("degree_sum").cast(dec) * col("degree_sum").cast(dec)).cast("double") /
        den.cast("double")).as("q_contrib"),
      (lit(new java.math.BigDecimal(sumNum.bigInteger)).cast(dec).cast("double") /
        den.cast("double")).as("q_total"))
  }

  /** The [[modularity]] oracle: `labelsSql` must yield (node, label)
    * rows; integer arithmetic through DuckDB HUGEINT (≡ Spark's
    * DECIMAL(38,0) at scale 0), totals via the same empty-partition
    * windows.
    */
  def modularitySql(edgesSql: String, labelsSql: String): String =
    // md_-prefixed CTE names: `labelsSql` is often itself a WITH query
    // (the labelPropagationSql unroll) nested as a subquery, and DuckDB
    // resolves colliding CTE names against the OUTER definition — an
    // outer `und` would shadow the unroll's own `und`.
    s"""WITH md_und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM ($edgesSql) WHERE src <> dst),
       |md_lab AS (SELECT node, label FROM ($labelsSql)),
       |md_nd AS MATERIALIZED (
       |  SELECT d.node, COALESCE(l.label, d.node) AS label, d.deg
       |  FROM (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |      SELECT a AS node FROM md_und UNION ALL SELECT b FROM md_und) u GROUP BY 1) d
       |  LEFT JOIN md_lab l ON l.node = d.node),
       |md_pl AS (SELECT label, CAST(count(*) AS BIGINT) AS nodes,
       |    CAST(SUM(deg) AS BIGINT) AS degree_sum FROM md_nd GROUP BY 1),
       |md_ein AS (SELECT x.label, CAST(count(*) AS BIGINT) AS internal_edges
       |  FROM md_und JOIN md_nd x ON x.node = md_und.a JOIN md_nd y ON y.node = md_und.b
       |  WHERE x.label = y.label GROUP BY 1),
       |md_j AS (SELECT pl.label, pl.nodes,
       |    CAST(COALESCE(e.internal_edges, 0) AS BIGINT) AS internal_edges,
       |    pl.degree_sum FROM md_pl pl LEFT JOIN md_ein e ON e.label = pl.label),
       |md_j2 AS (SELECT md_j.*, CAST(SUM(degree_sum) OVER () AS BIGINT) AS m2 FROM md_j),
       |md_q AS (SELECT md_j2.*,
       |    2 * CAST(m2 AS HUGEINT) * CAST(internal_edges AS HUGEINT)
       |      - CAST(degree_sum AS HUGEINT) * CAST(degree_sum AS HUGEINT) AS num,
       |    CAST(m2 AS HUGEINT) * CAST(m2 AS HUGEINT) AS den FROM md_j2)
       |SELECT label, nodes, internal_edges, degree_sum,
       |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS q_contrib,
       |  CAST(SUM(num) OVER () AS DOUBLE) / CAST(den AS DOUBLE) AS q_total
       |FROM md_q ORDER BY label""".stripMargin

  /** Parity-synchronized Louvain move phase (Blondel et al. 2008,
    * "Fast unfolding of communities in large networks", §2) — greedy
    * MODULARITY-gain community moves, the quality-seeking complement
    * to [[labelPropagation]]'s frequency rule: each round, a node
    * moves to the neighboring community maximizing
    * ΔQ ∝ 2m·e_{n→c} − deg_n·(d_c − [c = cur]·deg_n) (its own degree
    * removed from its current community first, per the paper), ties to
    * the SMALLEST community label, staying put when no candidate beats
    * the stay-gain. Returns the (node, label) partition after `iters`
    * rounds — audit it with [[modularity]]. Single-level (no
    * coarsening): the move phase is where the quality lives and the
    * only phase with a data-parallel form.
    *
    * Naive fully-synchronous gain moves OSCILLATE — two singletons
    * that each see the other as their best community swap labels
    * forever (traced in OperatorSpec). The standard distributed fix is
    * to let only an independent subset move per round: here nodes with
    * `node mod 2 = round mod 2` (deterministic, partition-friendly —
    * no coloring pass), which breaks every 2-cycle and converges to
    * the planted partition on the classic two-triangles-and-a-bridge
    * graph in 4 rounds.
    *
    * Exactness: gains are DECIMAL(38,0) (≡ DuckDB HUGEINT) products of
    * exact integer degree/edge counts — gain comparison is integer
    * comparison, nothing quantized, so [[louvainSql]]'s unroll agrees
    * bit-for-bit. 2m is ONE collected long re-entering as a literal.
    *
    * Scale shape, per round: community degree sums (one label-keyed
    * aggregate over nodes), neighbor-community counts for the MOVING
    * PARITY ONLY (the adj⋈labels join — the big exchange — carries
    * half the nodes' adjacency, 8-byte keys), then node-keyed argmax
    * window over candidate communities (rows = distinct neighbor
    * communities per moving node, not edges) and a node-keyed label
    * update. Lazy localCheckpoint caps lineage per round; early exit
    * after TWO consecutive no-move rounds (one per parity — a single
    * quiet parity does not pin the other).
    */
  def louvainMoves(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int
  ): DataFrame = {
    // Delegates to the weighted core at w ≡ 1 (r13 optimization): the
    // canonical (a < b) distinct pair set expanded to both directions
    // IS the former both-direction distinct adjacency; count(*) and
    // sum(w) at w = 1 are the same longs through degrees, encounters
    // and gains, so labels are bit-identical to the dedicated
    // unweighted body (and to [[louvainSql]]) while rounds gain the
    // core's two-joins-fewer plan.
    val und = canonicalPairs(edges, srcCol, dstCol)
      .withColumn("w", lit(1L))
      .localCheckpoint(false)
    louvainWeightedCore(und, iters)._1
  }

  /** The [[louvainMoves]] oracle generator — unrolled move rounds over
    * any `(src, dst)` edge SQL, HUGEINT gains mirroring the operator's
    * DECIMAL(38,0) integer arithmetic (gm_-prefixed CTE names so the
    * unroll nests safely as a labels subquery, like
    * [[modularitySql]]).
    */
  def louvainSql(edgesSql: String, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH gm_e0 AS ($edgesSql),
         |gm_adj AS MATERIALIZED (SELECT DISTINCT src AS node, dst AS nbr FROM (
         |    SELECT src, dst FROM gm_e0 UNION ALL SELECT dst, src FROM gm_e0)
         |  WHERE src <> dst),
         |gm_deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM gm_adj GROUP BY 1),
         |gm_m2 AS (SELECT CAST(COALESCE(SUM(deg), 0) AS HUGEINT) AS m2 FROM gm_deg),
         |gm_l0 AS (SELECT node, node AS label FROM gm_deg)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i % 2
      sb.append(s""",
         |gm_dc$i AS (SELECT l.label AS c, CAST(SUM(d.deg) AS BIGINT) AS dc
         |  FROM gm_l${i - 1} l JOIN gm_deg d ON d.node = l.node GROUP BY 1),
         |gm_cand$i AS (SELECT node, c, CAST(MAX(e) AS BIGINT) AS e FROM (
         |    SELECT a.node, l.label AS c, count(*) AS e FROM gm_adj a
         |      JOIN gm_l${i - 1} l ON l.node = a.nbr
         |      WHERE (a.node % 2 + 2) % 2 = $p GROUP BY 1, 2
         |    UNION ALL
         |    SELECT node, label, 0 FROM gm_l${i - 1} WHERE (node % 2 + 2) % 2 = $p)
         |  GROUP BY 1, 2),
         |gm_g$i AS (SELECT cd.node, cd.c,
         |    (SELECT m2 FROM gm_m2) * CAST(cd.e AS HUGEINT)
         |      - CAST(d.deg AS HUGEINT) * CAST(dc.dc
         |          - CASE WHEN cd.c = l.label THEN d.deg ELSE 0 END AS HUGEINT) AS gain
         |  FROM gm_cand$i cd JOIN gm_l${i - 1} l ON l.node = cd.node
         |    JOIN gm_deg d ON d.node = cd.node JOIN gm_dc$i dc ON dc.c = cd.c),
         |gm_b$i AS (SELECT node, c AS nlabel FROM (
         |    SELECT node, c, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, c) AS rk FROM gm_g$i) WHERE rk = 1),
         |gm_l$i AS (SELECT l.node, COALESCE(b.nlabel, l.label) AS label
         |  FROM gm_l${i - 1} l LEFT JOIN gm_b$i b ON b.node = l.node)""".stripMargin)
    }
    sb.append(s"\nSELECT node, label FROM gm_l$iters ORDER BY node")
    sb.toString
  }

  /** Weighted Louvain move phase — the [[louvainMoves]] gain rule over
    * an integer-weighted undirected edge list that may carry SELF
    * LOOPS, which is exactly the shape community contraction produces
    * (Blondel et al. 2008 §2: the coarse graph's self-loop weight is
    * the community's internal edge count, counted TWICE in its node's
    * weighted degree). Gains become
    * ΔQ ∝ 2m·w_{n→c} − k_n·(d_c − [c = cur]·k_n) with w the edge-
    * weight sums and k_n the weighted degree; a node's self-loop never
    * enters w_{n→c} (it is not an edge to another member of c) but
    * does enter k_n — the constant cancels between candidates, so the
    * argmax is unchanged by it, per the paper. Parity scheduling, tie
    * rule, DECIMAL(38,0) exactness, per-round checkpoint + two-quiet
    * early exit all as in [[louvainMoves]]; with unit weights and no
    * self-loops this IS [[louvainMoves]] (spec-pinned).
    *
    * Scale shape per round: identical to [[louvainMoves]] except
    * exchange rows carry one extra 8-byte weight; the input is
    * canonicalized to one row per unordered pair (weights summed), so
    * adjacency size is bounded by the DISTINCT pair count.
    */
  def louvainMovesWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int
  ): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .localCheckpoint(false)
    louvainWeightedCore(und, iters)._1
  }

  /** The weighted move-phase core over an ALREADY-CANONICAL edge frame
    * — `und` must be (a ≤ b, w) with one row per unordered pair,
    * checkpointed. Factored out (r13 optimization) so callers whose
    * input is canonical by construction ([[louvainMultiLevel]]'s
    * contracted levels, [[louvainTwoLevel]]'s distinct frame) skip the
    * redundant canonicalization shuffle + checkpoint that
    * [[louvainMovesWeighted]] pays on arbitrary input. Returns
    * `(labels, deg, m2)` so the multi-level ΔQ audit reuses the
    * degree table and the m2 scalar instead of rebuilding both per
    * level (one aggregate + one collect saved per level).
    *
    * Two plan-only changes vs the r12 body, both value-identical: the
    * working labels frame CARRIES the static weighted degree (so the
    * per-round community-degree aggregate and the gain join read it in
    * place — two node-keyed joins per round removed), and the per-pair
    * weights arrive pre-grouped. Gains remain DECIMAL(38,0)-exact
    * products of the same longs; the tie rule and parity schedule are
    * untouched, so labels are bit-identical.
    */
  private def louvainWeightedCore(
      und: DataFrame,
      iters: Int
  ): (DataFrame, DataFrame, Long) = {
    require(iters >= 0 && iters <= 50, s"iters must be in 0..50, got $iters")
    val dec = "decimal(38,0)"
    val cross = und.filter(col("a") =!= col("b"))
    val adj = cross.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .unionAll(cross.select(col("b").as("node"), col("a").as("nbr"), col("w")))
      .localCheckpoint(false)
    // weighted degree: cross weights once per endpoint, self-loops twice
    val deg = adj.select(col("node"), col("w"))
      .unionAll(und.filter(col("a") === col("b"))
        .select(col("a").as("node"), (col("w") * 2).as("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("deg"))
      .localCheckpoint(false)
    val m2 = deg.agg(coalesce(sum(col("deg")), lit(0L))).collect()(0).getLong(0)
    require(m2 > 0, "louvainMovesWeighted requires a non-empty edge list")
    // labels carry the STATIC deg so rounds never re-join the degree
    // table: dc aggregates labels directly, the gain join reads deg
    // off the candidate's label row
    val labels0 = deg.select(col("node"), col("node").as("label"), col("deg"))
    // early exit after TWO consecutive no-move rounds (one per parity)
    val (labels, _) = Rounds.run("louvainWeightedCore", (labels0, 0), iters) {
      case ((labels, quiet), round) =>
        val p = round % 2
        val dc = labels
          .groupBy(col("label").as("c")).agg(sum(col("deg")).as("dc"))
        val moving = pmod(col("node"), lit(2L)) === lit(p.toLong)
        val enc = adj.filter(moving)
          .join(labels.select(col("node").as("nbr"), col("label").as("c")), "nbr")
          .groupBy(col("node"), col("c")).agg(sum(col("w")).as("e"))
        val cand = enc
          .unionAll(labels.filter(moving).select(col("node"), col("label").as("c"), lit(0L).as("e")))
          .groupBy(col("node"), col("c")).agg(max(col("e")).as("e"))
        // argmax as a map-side-combinable AGGREGATE, not a window (r14,
        // guide §2.4): `min(struct(-gain, c))` is lexicographic — largest
        // gain first, ties to the smallest c — exactly the former
        // row_number().over(node, gain desc, c).filter(rk = 1) row, but
        // with a partial-combine below the node exchange and NO per-
        // partition sort (WindowExec sorts its whole input). Negating a
        // DECIMAL(38,0) is exact (sign flip); gain values are unchanged.
        // The dc join moves FIRST so the final node-keyed join feeds the
        // node-keyed aggregate directly (inner joins commute; one fewer
        // exchange of the candidate stream).
        val next = cand
          .join(dc, "c")
          .join(labels, "node")
          .withColumn("gain",
            lit(m2).cast(dec) * col("e").cast(dec)
              - col("deg").cast(dec) *
                (col("dc") - when(col("c") === col("label"), col("deg")).otherwise(lit(0L))).cast(dec))
          .groupBy(col("node"))
          .agg(min(struct(negate(col("gain")).as("ng"), col("c").as("c"))).as("m"))
          .select(col("node"), col("m.c").as("nlabel"))
        val updated = Rounds.checkpoint(labels.join(next, Seq("node"), "left")
          .select(col("node"), col("label").as("_old"),
            coalesce(col("nlabel"), col("label")).as("label"), col("deg")))
        // one job: materializes the round checkpoint AND counts moves
        val q = if (Rounds.countWhere(updated, col("label") =!= col("_old")) == 0L) quiet + 1 else 0
        ((updated.select(col("node"), col("label"), col("deg")), q), q == 2)
    }.state
    (labels.select(col("node"), col("label")), deg, m2)
  }

  /** Two-level Louvain (Blondel et al. 2008 §2, the full
    * move-AGGREGATE-move fold that [[louvainMoves]] alone stops short
    * of): run the level-1 move phase, CONTRACT each community to a
    * super-node — cross-community edge weights are the inter-community
    * edge counts, each community's self-loop weight its internal edge
    * count (so its weighted degree is the members' degree sum) — run
    * the WEIGHTED move phase on the coarse graph, and project the
    * coarse labels back through the level-1 assignment. Merges that
    * one level of greedy node moves cannot see (whole-community
    * fusions) become single coarse moves; communities are only ever
    * merged or regrouped, never split, and every accepted coarse move
    * has positive modularity gain on the ORIGINAL graph (modularity is
    * invariant under contraction — the paper's central identity).
    *
    * Exactness: both levels are the integer-gain machinery; the coarse
    * graph's weights are exact counts, so [[louvainTwoLevelSql]]'s
    * nested unroll agrees bit-for-bit.
    *
    * Scale shape: level 1 as [[louvainMoves]]; the contraction is one
    * endpoint-labels join over the distinct-edge frame (the
    * [[modularity]] shape) feeding a (label,label)-keyed count; level
    * 2 runs on a graph whose size is communities + inter-community
    * pairs — typically orders of magnitude smaller than the input, so
    * its rounds are control-plane-cheap at any corpus scale.
    */
  def louvainTwoLevel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      itersL1: Int,
      itersL2: Int
  ): DataFrame = {
    val und = canonicalPairs(edges, srcCol, dstCol)
      .withColumn("w", lit(1L))
      .localCheckpoint(false) // feeds level-1 rounds AND the contraction join
    // both levels enter the core directly: und and the contracted
    // frame are canonical (a ≤ b, grouped) by construction, so the
    // core's callers skip louvainMovesWeighted's re-canonicalization
    // shuffle + checkpoint (r13 optimization; values unchanged)
    val l1 = louvainWeightedCore(und, itersL1)._1.localCheckpoint(false)
    val coarse = contract(und, l1).localCheckpoint(false)
    compose(l1, louvainWeightedCore(coarse, itersL2)._1)
  }

  /** Contract the canonical weighted graph `g` `(a, b, w)` by `labels`
    * `(node, label)`: each edge maps to its endpoints' communities
    * (least/greatest keeps the result canonical, intra-community edges
    * become self-loops) and parallel edges sum their weights — the
    * Blondel aggregation step, shared by [[louvainTwoLevel]] and
    * [[louvainMultiLevel]].
    */
  private def contract(g: DataFrame, labels: DataFrame): DataFrame =
    g.join(labels.select(col("node").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("node").as("b"), col("label").as("lb")), "b")
      .select(least(col("la"), col("lb")).as("a"),
        greatest(col("la"), col("lb")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))

  /** Compose a node → community `mapping` with the next level's
    * community → super-community `next`; communities `next` leaves
    * unlabelled keep their label.
    */
  private def compose(mapping: DataFrame, next: DataFrame): DataFrame =
    mapping.select(col("node"), col("label").as("_c"))
      .join(next.select(col("node").as("_c"), col("label")), Seq("_c"), "left")
      .select(col("node"), coalesce(col("label"), col("_c")).as("label"))

  /** The [[louvainTwoLevel]] oracle generator: nests the
    * [[louvainSql]] level-1 unroll as a subquery (gm_ CTEs resolve
    * inside it; lt_/wl_ prefixes out here so nothing shadows), builds
    * the weighted coarse graph, unrolls the WEIGHTED move rounds
    * ([[weightedLevelSql]]: SUM(w) where the unweighted unroll counts,
    * self-loops doubled into degrees), and projects labels back
    * through level 1.
    */
  def louvainTwoLevelSql(edgesSql: String, itersL1: Int, itersL2: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH lt_l1 AS MATERIALIZED (${louvainSql(edgesSql, itersL1)}),
         |lt_und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM ($edgesSql) WHERE src <> dst),
         |lt_ce AS MATERIALIZED (SELECT least(x.label, y.label) AS a,
         |    greatest(x.label, y.label) AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM lt_und JOIN lt_l1 x ON x.node = lt_und.a
         |    JOIN lt_l1 y ON y.node = lt_und.b GROUP BY 1, 2)""".stripMargin)
    weightedLevelSql(sb, "wl_", "lt_ce", itersL2)
    sb.append(
      s"""
         |SELECT l1.node, COALESCE(w.label, l1.label) AS label
         |FROM lt_l1 l1 LEFT JOIN wl_l$itersL2 w ON w.node = l1.label
         |ORDER BY l1.node""".stripMargin)
    sb.toString
  }

  /** FULL multi-level Louvain (Blondel et al. 2008's complete loop —
    * [[louvainTwoLevel]] generalized): move, CONTRACT, repeat up to
    * `maxLevels` times, with every level the WEIGHTED move phase over
    * the previous level's super-node graph (level 1 is the weight-1
    * instance, so one machinery carries all levels). Stop rule: the
    * Blondel ΔQ > eps test with eps = 0 — each level past the first is
    * ACCEPTED only if its exact integer Q·m2² strictly improves on the
    * accepted mapping's; a non-improving level's moves are discarded
    * and the loop stops (batch parity moves can jointly LOWER Q on a
    * tiny coarse graph even though each move's solo gain is positive —
    * observed on the co-purchase graph's 11-super-node level 3 — and a
    * no-move level stops the same way, its Q being equal). The static
    * `maxLevels` unroll ([[louvainMultiLevelSql]]) replays the accept
    * chain as HUGEINT scalar comparisons, so fewer levels run here,
    * identical labels come out (the [[PreparedPageRank.converge]]
    * early-exit pattern).
    *
    * Exactness: every level is [[louvainMovesWeighted]]'s
    * HUGEINT-exact gain argmax; contracted edge weights are exact long
    * sums (cross-community weights merge under least/greatest
    * canonicalization, intra-community weights fold into self-loops
    * that enter degrees doubled); the label composition is pure
    * integer joins. Nothing floats, so the oracle replays bit-for-bit.
    *
    * Scale shape: level 1 dominates (the full graph); every deeper
    * level runs on communities + inter-community pairs — orders of
    * magnitude smaller, so the marginal levels are control-plane
    * cheap. Per-level lazy checkpoints cap lineage; the converged
    * check is one boolean aggregate per level.
    */
  def louvainMultiLevel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      itersPerLevel: Int,
      maxLevels: Int
  ): DataFrame = {
    require(maxLevels >= 1 && maxLevels <= 8, s"maxLevels must be in 1..8, got $maxLevels")
    // Rounds.checkpoint at every level boundary: each level's
    // checkpoints would otherwise compound the previous level's
    // inflated size estimate — the geometric-stats wedge
    val g0 = Rounds.checkpoint(canonicalPairs(edges, srcCol, dstCol).withColumn("w", lit(1L)))
    // state: this level's graph and the accepted (mapping, Q·m2²)
    Rounds.run("louvainMultiLevel", (g0, Option.empty[(DataFrame, BigInt)]), maxLevels) {
      case ((g, best), level) =>
        // core directly: g is canonical by construction (distinct level-1
        // pairs / grouped contraction), so the per-level
        // re-canonicalization shuffle + checkpoint is skipped, and the
        // core's (deg, m2) feed the ΔQ audit below instead of being
        // rebuilt + re-collected per level (r12 verdict #6)
        val (l0, deg, m2) = louvainWeightedCore(g, itersPerLevel)
        val l = Rounds.checkpoint(l0)
        // ΔQ acceptance (the Blondel stop rule, eps = 0): exact integer
        // Q·m2² of this level's labels ON THIS LEVEL'S GRAPH — equal, by
        // modularity's contraction invariance, to the composed mapping's
        // Q on the original graph. Level 1 is the baseline (always
        // accepted, like louvainMoves itself); deeper levels must
        // STRICTLY improve or the loop stops and their moves are
        // discarded — so Q is non-decreasing per level BY CONSTRUCTION
        // (batch parity moves can jointly lower Q on tiny coarse graphs;
        // a no-move level has equal Q and stops the same way). Exact
        // integers, so the oracle replays the accept chain as HUGEINT
        // comparisons.
        val q = qNumContracted(g, l, deg, m2)
        if (best.exists(_._2 >= q)) ((g, best), true)
        else {
          val mapping = best.fold(l) { case (m, _) => Rounds.checkpoint(compose(m, l)) }
          val next = if (level < maxLevels) Rounds.checkpoint(contract(g, l)) else g
          ((next, Some((mapping, q))), false)
        }
    }.state._2.get._1
  }

  /** Exact Q·m2² of `labels` on the weighted graph `g` (`(a, b, w)`
    * canonicalized, self-loops allowed): Σ_c (2·m2·win_c − dc²) with
    * win_c the intra-community undirected weight (self-loops once),
    * dc the weighted degree sum (self-loops doubled), m2 the total
    * degree — all exact longs into DECIMAL(38,0) (≡ HUGEINT), one
    * control-plane collect. Contraction-invariant, so comparing levels
    * on their own coarse graphs compares original-graph modularity.
    * `deg`/`m2` arrive from [[louvainWeightedCore]]'s prep (identical
    * multiset sums — r12 verdict #6: the audit no longer rebuilds the
    * degree table or re-collects m2 per level).
    */
  private def qNumContracted(
      g: DataFrame,
      labels: DataFrame,
      deg: DataFrame,
      m2: Long
  ): BigInt = {
    val dec = "decimal(38,0)"
    val la = labels.select(col("node").as("a"), col("label").as("la"))
    val lb = labels.select(col("node").as("b"), col("label").as("lb"))
    val win = g.join(la, "a").join(lb, "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("c")).agg(sum(col("w")).as("win"))
    val dcq = labels.join(deg, "node")
      .groupBy(col("label").as("c")).agg(sum(col("deg")).as("dc"))
    val qn = dcq.join(win, Seq("c"), "left")
      .select((lit(m2).cast(dec) * lit(2L).cast(dec) *
        coalesce(col("win"), lit(0L)).cast(dec) -
        col("dc").cast(dec) * col("dc").cast(dec)).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L).cast(dec)).cast(dec))
      .collect()(0).getDecimal(0)
    BigInt(qn.toBigInteger)
  }

  /** One weighted move-phase level as CTE fragments (level 2 of
    * [[louvainTwoLevelSql]], every level of [[louvainMultiLevelSql]]):
    * `gCte` is an `(a, b, w)` grouped edge CTE, `pfx` keeps levels
    * from colliding (the nested-generator prefix lesson). Per-round label CTEs are
    * MATERIALIZED — each is referenced ~5× by the next round, and
    * DuckDB re-inlines plain CTEs per reference (the pageRankSql
    * exponential-reeval incident).
    */
  private def weightedLevelSql(sb: StringBuilder, pfx: String, gCte: String, iters: Int): Unit = {
    sb.append(s""",
       |${pfx}adj AS MATERIALIZED (SELECT a AS node, b AS nbr, w FROM $gCte WHERE a <> b
       |  UNION ALL SELECT b, a, w FROM $gCte WHERE a <> b),
       |${pfx}deg AS MATERIALIZED (SELECT node, CAST(SUM(w) AS BIGINT) AS deg FROM (
       |    SELECT node, w FROM ${pfx}adj
       |    UNION ALL SELECT a, 2 * w FROM $gCte WHERE a = b) GROUP BY 1),
       |${pfx}m2 AS (SELECT CAST(COALESCE(SUM(deg), 0) AS HUGEINT) AS m2 FROM ${pfx}deg),
       |${pfx}l0 AS (SELECT node, node AS label FROM ${pfx}deg)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i % 2
      sb.append(s""",
         |${pfx}dc$i AS (SELECT l.label AS c, CAST(SUM(d.deg) AS BIGINT) AS dc
         |  FROM ${pfx}l${i - 1} l JOIN ${pfx}deg d ON d.node = l.node GROUP BY 1),
         |${pfx}cand$i AS (SELECT node, c, CAST(MAX(e) AS BIGINT) AS e FROM (
         |    SELECT a.node, l.label AS c, CAST(SUM(a.w) AS BIGINT) AS e FROM ${pfx}adj a
         |      JOIN ${pfx}l${i - 1} l ON l.node = a.nbr
         |      WHERE (a.node % 2 + 2) % 2 = $p GROUP BY 1, 2
         |    UNION ALL
         |    SELECT node, label, 0 FROM ${pfx}l${i - 1} WHERE (node % 2 + 2) % 2 = $p)
         |  GROUP BY 1, 2),
         |${pfx}g$i AS (SELECT cd.node, cd.c,
         |    (SELECT m2 FROM ${pfx}m2) * CAST(cd.e AS HUGEINT)
         |      - CAST(d.deg AS HUGEINT) * CAST(dc.dc
         |          - CASE WHEN cd.c = l.label THEN d.deg ELSE 0 END AS HUGEINT) AS gain
         |  FROM ${pfx}cand$i cd JOIN ${pfx}l${i - 1} l ON l.node = cd.node
         |    JOIN ${pfx}deg d ON d.node = cd.node JOIN ${pfx}dc$i dc ON dc.c = cd.c),
         |${pfx}b$i AS (SELECT node, c AS nlabel FROM (
         |    SELECT node, c, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, c) AS rk FROM ${pfx}g$i) WHERE rk = 1),
         |${pfx}l$i AS MATERIALIZED (SELECT l.node, COALESCE(b.nlabel, l.label) AS label
         |  FROM ${pfx}l${i - 1} l LEFT JOIN ${pfx}b$i b ON b.node = l.node)""".stripMargin)
    }
  }

  /** The [[louvainMultiLevel]] oracle generator: a static
    * `maxLevels`-deep unroll — per level one [[weightedLevelSql]]
    * block (prefix `v{l}_`), a contraction CTE, and a mapping-compose
    * CTE. The Scala side's early exit is invisible to the result (see
    * [[louvainMultiLevel]]'s no-op argument), so the static unroll
    * matches whatever level the loop stopped at.
    */
  def louvainMultiLevelSql(edgesSql: String, itersPerLevel: Int, maxLevels: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ml_und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM ($edgesSql) WHERE src <> dst),
         |ml_g1 AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w FROM ml_und)""".stripMargin)
    for (l <- 1 to maxLevels) {
      val lab = s"v${l}_l$itersPerLevel"
      weightedLevelSql(sb, s"v${l}_", s"ml_g$l", itersPerLevel)
      // the level's exact Q·m2² (the Scala qNumContracted replica):
      // win = intra-community weight incl. self-loops, dc = weighted
      // degree sum, qn = Σ_c (2·m2·win − dc²) in HUGEINT
      sb.append(s""",
         |v${l}_win AS (SELECT x.label AS c, CAST(SUM(g.w) AS BIGINT) AS win
         |  FROM ml_g$l g JOIN $lab x ON x.node = g.a JOIN $lab y ON y.node = g.b
         |  WHERE x.label = y.label GROUP BY 1),
         |v${l}_dcq AS (SELECT l.label AS c, CAST(SUM(d.deg) AS BIGINT) AS dc
         |  FROM $lab l JOIN v${l}_deg d ON d.node = l.node GROUP BY 1),
         |v${l}_qn AS (SELECT CAST(COALESCE(SUM(
         |      (SELECT m2 FROM v${l}_m2) * 2 * CAST(COALESCE(w.win, 0) AS HUGEINT)
         |      - CAST(d.dc AS HUGEINT) * CAST(d.dc AS HUGEINT)), 0) AS HUGEINT) AS qn
         |  FROM v${l}_dcq d LEFT JOIN v${l}_win w ON w.c = d.c)""".stripMargin)
      sb.append(if (l == 1) s""",
         |ml_map1 AS MATERIALIZED (SELECT node, label FROM $lab)""".stripMargin
      else s""",
         |ml_map$l AS MATERIALIZED (SELECT m.node, COALESCE(v.label, m.label) AS label
         |  FROM ml_map${l - 1} m LEFT JOIN $lab v ON v.node = m.label)""".stripMargin)
      if (l < maxLevels) {
        sb.append(s""",
           |ml_g${l + 1} AS MATERIALIZED (SELECT least(x.label, y.label) AS a,
           |    greatest(x.label, y.label) AS b, CAST(SUM(g.w) AS BIGINT) AS w
           |  FROM ml_g$l g JOIN $lab x ON x.node = g.a
           |    JOIN $lab y ON y.node = g.b GROUP BY 1, 2)""".stripMargin)
      }
    }
    // the ΔQ accept chain: level l's mapping is selected only when
    // every level 2..l strictly improved qn — a static CASE over
    // HUGEINT scalars, replaying the Scala early exit exactly (a
    // rejected level's deeper maps are computed but never selected)
    val acc = (2 to maxLevels).map { l =>
      val conj = (2 to l).map(k =>
        s"((SELECT qn FROM v${k}_qn) > (SELECT qn FROM v${k - 1}_qn))").mkString(" AND ")
      s"($conj) AS a$l"
    }
    if (maxLevels == 1) {
      sb.append(s"""
         |SELECT node, label FROM ml_map1 ORDER BY node""".stripMargin)
    } else {
      sb.append(s""",
         |ml_acc AS (SELECT ${acc.mkString(",\n    ")})""".stripMargin)
      val cases = (maxLevels to 2 by -1)
        .map(l => s"WHEN ml_acc.a$l THEN m$l.label").mkString(" ")
      val joins = (2 to maxLevels)
        .map(l => s"JOIN ml_map$l m$l ON m$l.node = m1.node").mkString(" ")
      sb.append(s"""
         |SELECT m1.node, CASE $cases ELSE m1.label END AS label
         |FROM ml_map1 m1 $joins CROSS JOIN ml_acc
         |ORDER BY m1.node""".stripMargin)
    }
    sb.toString
  }

  /** HyperBall-style harmonic centrality (Boldi & Vigna 2013,
    * "In-Core Computation of Geometric Centralities with HyperBall"):
    * `H(v) = Σ_{u≠v} 1/d(u,v)` — the link-quality signal the file
    * header cites as the Common-Crawl-scale PageRank stand-in, finally
    * implemented. Exact all-pairs BFS is Θ(V·E); HyperBall instead
    * keeps ONE mergeable distinct-counting sketch per node for the
    * ball `B_t(v)` (nodes within t hops) and iterates
    * `S_t(v) = merge(S_{t−1}(v), S_{t−1}(u) ∀ (v,u) ∈ E)`, so
    * `H(v) ≈ Σ_t (|B_t| − |B_{t−1}|)/t` truncated at `maxHops` (a
    * harmonic top-k ranking stabilizes after few hops — distant nodes
    * contribute 1/t tails). The original uses HyperLogLog; this uses
    * the repo's bottom-k KMV (same mergeability, same O(k) state,
    * and — decisive here — an ORDER-STATISTIC estimate that is a pure
    * function of integer hashes, so the DuckDB oracle replays it
    * bit-for-bit; node ids are SHORT keys, so hashes square TWICE mod
    * P per the [[graft.llm.Sketches.joinCardinality]] uniformizer).
    *
    * Exactness: sketch contents are exact distinct longs (union +
    * bottom-k is integer set algebra — shuffle-order-free); the
    * per-round estimate is `cnt` (exact, below capacity) or
    * `(k−1)·P / kth` (one division of exact longs), and the harmonic
    * sum is a FIXED left-to-right chain over maxHops terms — every
    * double op identically sequenced in [[harmonicCentralitySql]].
    * With `k > |V|` the sketches never truncate and H is EXACT
    * (spec-pinned on hand graphs).
    *
    * Scale shape, per round: one src-keyed join flowing k longs per
    * node along edges (the pageRank exchange shape, ×k), a
    * (node, hv) distinct, and a per-node bottom-k rank — partition
    * by node, never global. Lazy localCheckpoint caps lineage.
    * State is nodes × k longs; k trades accuracy (±1/√(k−2)) for
    * exchange width, exactly the HyperBall economy.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int,
      k: Int = 32
  ): DataFrame = {
    val ests = ballEstimates(edges, srcCol, dstCol, maxHops, k)
    val harmonic = (1 to maxHops)
      .map(t => (col(s"est$t") - col(s"est${t - 1}")) / lit(t.toDouble))
      .reduce(_ + _) // fixed left-to-right chain — the oracle's exact sequence
    ests.select(col("node"), col(s"est$maxHops").as("reach_est"),
      harmonic.as("harmonic"))
      .orderBy(col("node"))
  }

  /** The shared HyperBall sketch rounds of [[harmonicCentrality]] /
    * [[closenessCentrality]]: one frame `(node, est0..est{maxHops})` —
    * the per-round ball-size estimates (the NEIGHBORHOOD FUNCTION
    * N(t) per node), from bottom-k KMV ball sketches merged along
    * edges each round. Everything both centralities need is already
    * in these columns, so the closeness variant adds NO new shuffle.
    */
  private def ballEstimates(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int,
      k: Int
  ): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8, s"maxHops must be in 1..8, got $maxHops")
    require(k >= 2 && k <= 4096, s"k must be in 2..4096, got $k")
    val p = graft.functions.StrHash.P
    val adj = bothWays(
        edges.select(col(srcCol).cast("long").as("node"), col(dstCol).cast("long").as("nbr")),
        "node", "nbr")
      .filter(col("node") =!= col("nbr"))
      .distinct()
      .localCheckpoint(false)
    def keyHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = graft.functions.GraftFunctions.strhash(c.cast("string"))
      val q = pmod(h * h, lit(p))
      pmod(q * q, lit(p))
    }
    val s0 = adj.select(col("node")).distinct()
      .select(col("node"), keyHash(col("node")).as("hv"))
      .localCheckpoint(false)
    def estOf(sk: DataFrame, name: String): DataFrame = sk
      .groupBy(col("node"))
      .agg(count(lit(1)).as("cnt"), max(col("hv")).as("kth"))
      .select(col("node"),
        when(col("cnt") < k, col("cnt").cast("double"))
          .otherwise(lit((k - 1).toLong * p).cast("double") / col("kth").cast("double"))
          .as(name))
    val spark = edges.sparkSession
    Rounds.run("ballEstimates", (s0, estOf(s0, "est0")), maxHops) { case ((s, ests), t) =>
      val fromNbr = adj
        .join(s.select(col("node").as("nbr"), col("hv")), "nbr")
        .select(col("node"), col("hv"))
      // bottom-k via the bounded-heap TopKPerKey operator instead of a
      // row_number window (r14, guide §2.4 / the operator's own
      // scaladoc): the window SORTED every node's full merged sketch
      // stream each round; the heap keeps k rows per node in one pass
      // over the same single node exchange. Input rows are distinct, so
      // the kept (node, hv) SET is identical and every downstream
      // estimator (count + max per node) is order-free.
      val next = Rounds.checkpoint(graft.plans.TopKPerKey(spark,
        s.unionAll(fromNbr).distinct(), Seq("node"), Seq("hv" -> false), k))
      ((next, ests.join(estOf(next, s"est$t"), "node")), false)
    }.state._2
  }

  /** HyperBall closeness centrality + the per-node neighborhood
    * function (Boldi & Vigna 2013 §2's other geometric centrality, and
    * the WIMBD-style graph-audit companion): from the SAME per-round
    * ball estimates as [[harmonicCentrality]] — no new shuffle — emit
    * per node the N(t) curve (`n0..n{maxHops}`, the estimated nodes
    * within t hops), `sum_dist = Σ_t t·(N(t) − N(t−1))` (the truncated
    * total distance), and `closeness = (N(maxHops) − 1) / sum_dist`
    * (NULL when sum_dist = 0 — nothing reachable). Harmonic handles
    * disconnection gracefully; closeness is the classic reciprocal
    * average distance, meaningful within a component — emit both,
    * audit with both.
    *
    * Exactness: identical sketch algebra to [[harmonicCentrality]];
    * sum_dist is a fixed left-to-right chain of `(est_t − est_{t−1})·t`
    * doubles, closeness ONE division of already-emitted columns —
    * the oracle replays the same sequence off the shared CTE body
    * ([[closenessCentralitySql]]).
    */
  def closenessCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int,
      k: Int = 32
  ): DataFrame = {
    val ests = ballEstimates(edges, srcCol, dstCol, maxHops, k)
    val sumDist = (1 to maxHops)
      .map(t => (col(s"est$t") - col(s"est${t - 1}")) * lit(t.toDouble))
      .reduce(_ + _) // fixed left-to-right chain — the oracle's exact sequence
    ests
      .withColumn("sum_dist", sumDist)
      .select(col("node") +:
        (0 to maxHops).map(t => col(s"est$t").as(s"n$t")) :+
        col("sum_dist") :+
        when(col("sum_dist") > 0.0,
          (col(s"est$maxHops") - lit(1.0)) / col("sum_dist")).as("closeness"): _*)
      .orderBy(col("node"))
  }

  /** GLOBAL neighborhood function + effective diameter (HyperANF,
    * Boldi–Vigna–Rosa 2011 "HyperANF: Approximating the Neighbourhood
    * Function of Very Large Graphs on a Budget" — the headline
    * whole-graph audit the per-node sketches already pay for): one row
    * per hop t with `nf` = Σ_v N_t(v) (estimated pairs within t hops,
    * incl. self), `frac` = nf(t)/nf(maxHops), and the constant
    * `eff_diameter` — the interpolated first t where nf reaches
    * `q`·nf(maxHops), the standard "90% effective diameter".
    *
    * Exactness: per-node ball estimates quantize
    * `floor(est·1e6 + 0.5)` into BIGINT micro-units (the PageRank
    * fixed-point recipe — identical IEEE sequences, no rounding-mode
    * freedom), sum exactly, and close with ONE division; frac and the
    * interpolation `t*−1 + (q·nfT − nf(t*−1))/(nf(t*) − nf(t*−1))`
    * are fixed chains over those deterministic doubles (t* is the
    * first t meeting the threshold, so the denominator is positive).
    *
    * Scale shape: [[ballEstimates]]'s rounds (k longs/node/round) plus
    * ONE (maxHops+1)-column global aggregate — no new per-node
    * exchange; the per-t table is maxHops+1 rows.
    */
  def neighborhoodFunction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int,
      k: Int = 32,
      q: Double = 0.9
  ): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1), got $q")
    val ests = ballEstimates(edges, srcCol, dstCol, maxHops, k)
    val nfr = ests.agg(
      (0 to maxHops).map(t =>
        (sum(floor(col(s"est$t") * lit(1e6) + lit(0.5)).cast("long")).cast("double") /
          lit(1e6)).as(s"nf$t")).head,
      (1 to maxHops).map(t =>
        (sum(floor(col(s"est$t") * lit(1e6) + lit(0.5)).cast("long")).cast("double") /
          lit(1e6)).as(s"nf$t")): _*)
    val nfT = col(s"nf$maxHops")
    val thr = lit(q) * nfT
    val effD = (1 to maxHops).foldLeft(
      when(col("nf0") >= thr, lit(0.0))) { (acc, t) =>
      acc.when(col(s"nf$t") >= thr,
        lit((t - 1).toDouble) +
          (thr - col(s"nf${t - 1}")) / (col(s"nf$t") - col(s"nf${t - 1}")))
    }.otherwise(lit(maxHops.toDouble))
    val rows = (0 to maxHops).map(t => struct(
      lit(t.toLong).as("t"), col(s"nf$t").as("nf"),
      (col(s"nf$t") / nfT).as("frac")))
    nfr
      .withColumn("eff_diameter", effD)
      .select(explode(array(rows: _*)).as("r"), col("eff_diameter"))
      .select(col("r.t").as("t"), col("r.nf").as("nf"),
        col("r.frac").as("frac"), col("eff_diameter"))
      .orderBy(col("t"))
  }

  /** The [[neighborhoodFunction]] oracle generator — the shared
    * HyperBall CTE body, per-t scalar micro-unit sums, and the same
    * threshold CASE chain.
    */
  def neighborhoodFunctionSql(
      edgesSql: String,
      maxHops: Int,
      k: Int,
      q: Double,
      strhashExpr: String => String
  ): String = {
    val qLit = new java.math.BigDecimal(q).toPlainString
    val nfs = (0 to maxHops).map(t =>
      s"""(SELECT CAST(SUM(CAST(FLOOR(est * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
         |     FROM hc_e$t) AS nf$t""".stripMargin).mkString(",\n  ")
    val thr = s"CAST($qLit AS DOUBLE) * nf$maxHops"
    val cases = (s"WHEN nf0 >= $thr THEN CAST(0 AS DOUBLE)" +:
      (1 to maxHops).map(t =>
        s"WHEN nf$t >= $thr THEN CAST(${t - 1} AS DOUBLE) + " +
          s"($thr - nf${t - 1}) / (nf$t - nf${t - 1})")).mkString("\n    ")
    val rows = (0 to maxHops).map(t =>
      s"SELECT CAST($t AS BIGINT) AS t, nf$t AS nf, nf$t / nf$maxHops AS frac, " +
        "eff_diameter FROM hb_eff").mkString("\n  UNION ALL ")
    hyperBallCtesSql(edgesSql, maxHops, k, strhashExpr) +
      s""",
         |hb_nf AS MATERIALIZED (SELECT
         |  $nfs),
         |hb_eff AS MATERIALIZED (SELECT *, CASE
         |    $cases
         |    ELSE CAST($maxHops AS DOUBLE) END AS eff_diameter FROM hb_nf)
         |SELECT t, nf, frac, eff_diameter FROM (
         |  $rows)
         |ORDER BY t""".stripMargin
  }

  /** The [[harmonicCentrality]] oracle generator — unrolled sketch
    * rounds over any `(src, dst)` edge SQL: per round a UNION
    * (distinct) merge along edges and a per-node bottom-k rank, the
    * identical twice-squared hash, estimator, and left-to-right
    * harmonic chain. `strhashExpr(col)` must render the engine's
    * strhash over a VARCHAR column (the shared strhashSql helper).
    */
  def harmonicCentralitySql(
      edgesSql: String,
      maxHops: Int,
      k: Int,
      strhashExpr: String => String
  ): String = {
    val chain = (1 to maxHops)
      .map(t => s"(e$t.est - e${t - 1}.est) / CAST($t AS DOUBLE)")
      .mkString(" + ")
    val joinClause = (1 to maxHops)
      .map(t => s"JOIN hc_e$t e$t ON e$t.node = e0.node").mkString("\n")
    hyperBallCtesSql(edgesSql, maxHops, k, strhashExpr) +
      s"""
         |SELECT e0.node, e$maxHops.est AS reach_est, $chain AS harmonic
         |FROM hc_e0 e0
         |$joinClause
         |ORDER BY e0.node""".stripMargin
  }

  /** The [[closenessCentrality]] oracle generator — the same sketch
    * CTE body as [[harmonicCentralitySql]], closing with the N(t)
    * columns, the t-weighted distance chain, and the closeness
    * division (sum_dist computed once in a subselect, reused — the
    * Scala withColumn shape).
    */
  def closenessCentralitySql(
      edgesSql: String,
      maxHops: Int,
      k: Int,
      strhashExpr: String => String
  ): String = {
    val chain = (1 to maxHops)
      .map(t => s"(e$t.est - e${t - 1}.est) * CAST($t AS DOUBLE)")
      .mkString(" + ")
    val ns = (0 to maxHops).map(t => s"e$t.est AS n$t").mkString(", ")
    val joinClause = (1 to maxHops)
      .map(t => s"JOIN hc_e$t e$t ON e$t.node = e0.node").mkString("\n")
    hyperBallCtesSql(edgesSql, maxHops, k, strhashExpr) +
      s"""
         |SELECT node, ${(0 to maxHops).map(t => s"n$t").mkString(", ")}, sum_dist,
         |  CASE WHEN sum_dist > CAST(0 AS DOUBLE)
         |    THEN (n$maxHops - CAST(1 AS DOUBLE)) / sum_dist END AS closeness
         |FROM (
         |  SELECT e0.node, $ns, $chain AS sum_dist
         |  FROM hc_e0 e0
         |  $joinClause)
         |ORDER BY node""".stripMargin
  }

  /** The shared HyperBall CTE body (sketch rounds + per-round
    * estimates hc_e0..hc_e{maxHops}) of the two centrality oracles.
    */
  private def hyperBallCtesSql(
      edgesSql: String,
      maxHops: Int,
      k: Int,
      strhashExpr: String => String
  ): String = {
    val p = graft.functions.StrHash.P
    val kP = (k - 1).toLong * p
    val sb = new StringBuilder
    sb.append(
      s"""WITH hc_adj AS MATERIALIZED (
         |  SELECT DISTINCT node, nbr FROM (
         |    SELECT src AS node, dst AS nbr FROM ($edgesSql)
         |    UNION ALL SELECT dst, src FROM ($edgesSql)) WHERE node <> nbr),
         |hc_s0 AS MATERIALIZED (SELECT node, (q * q) % $p AS hv FROM (
         |  SELECT node, (sh * sh) % $p AS q FROM (
         |    SELECT node, ${strhashExpr("CAST(node AS VARCHAR)")} AS sh
         |    FROM (SELECT DISTINCT node FROM hc_adj)))),
         |hc_e0 AS (SELECT node, CASE WHEN cnt < $k THEN CAST(cnt AS DOUBLE)
         |    ELSE CAST($kP AS DOUBLE) / CAST(kth AS DOUBLE) END AS est
         |  FROM (SELECT node, CAST(count(*) AS BIGINT) AS cnt, MAX(hv) AS kth
         |        FROM hc_s0 GROUP BY 1))""".stripMargin)
    for (t <- 1 to maxHops) {
      sb.append(s""",
         |hc_s$t AS MATERIALIZED (SELECT node, hv FROM (
         |  SELECT node, hv, row_number() OVER (PARTITION BY node ORDER BY hv) AS rk
         |  FROM (SELECT node, hv FROM hc_s${t - 1}
         |        UNION
         |        SELECT a.node, s.hv FROM hc_adj a JOIN hc_s${t - 1} s ON s.node = a.nbr))
         |  WHERE rk <= $k),
         |hc_e$t AS (SELECT node, CASE WHEN cnt < $k THEN CAST(cnt AS DOUBLE)
         |    ELSE CAST($kP AS DOUBLE) / CAST(kth AS DOUBLE) END AS est
         |  FROM (SELECT node, CAST(count(*) AS BIGINT) AS cnt, MAX(hv) AS kth
         |        FROM hc_s$t GROUP BY 1))""".stripMargin)
    }
    sb.toString
  }
}
