package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.strhash

/** Budget-constrained corpus selection: keep the best documents, by a
  * deterministic ranking, until a token budget fills — the "select B
  * tokens of training data" step a pretraining pipeline runs after
  * scoring (greedy prefix selection in rank order, not a knapsack: the
  * first doc that would overflow is dropped and selection continues
  * with nothing — the budget is a prefix cut, documented and mirrored
  * by the oracle).
  *
  * The naive formulation is a cumulative sum over ONE global window —
  * a single-partition WindowExec that serializes the whole corpus
  * through one task. [[selectByBudget]] instead computes the exact
  * same global cumsum in two passes: range-repartition on the rank
  * order + in-partition sort, per-partition token totals to the driver
  * (one long per partition — control-plane), then each partition's
  * prefix sums offset by the totals of the partitions ranked before
  * it. Partition boundaries come from range sampling and are NOT
  * deterministic — but the cumsum they compute is: every doc's global
  * prefix total depends only on the (rank, id) order, so the SELECTED
  * SET is exact and engine-reproducible (SelectionSpec pins equality
  * with the naive window on a real corpus).
  */
object Selection {

  /** Loud ceiling on the broadcast model tables the hashed-LM family
    * ships to every executor ([[dsirWeights]], [[lmCrossEntropy]] at
    * every order, [[lmCrossEntropyKneserNey]]). Order-1 models are one
    * row per bucket, so their bound is `numBuckets` and checks at entry;
    * from order 2 the models are sized by the REFERENCE slice's
    * distinct hashed n-grams — bounded by `numBuckets` powers only in
    * the worst case — so without a guard the first symptom of an
    * oversized reference at cluster scale is an executor OOM or a
    * silent multi-GB broadcast. 4M rows of (≤3 longs + hash-relation
    * overhead) is a few hundred MB — the upper edge of a sane
    * broadcast; past it the caller must coarsen the model (lower
    * `numBuckets`) or raise `maxModelRows` deliberately. Same fail-loud
    * contract as [[graft.llm.TextIndex.probeAll]]'s 4096-query cap and
    * [[graft.operators.StatTests.chiSquareByKey]]'s 4096-cell grid.
    */
  val MaxBroadcastModelRows: Long = 4L << 20

  /** One control-plane count of the FINEST n-gram model (every other
    * model in the family is a group-by coarsening of the same rows, so
    * its row count is ≤ this one) + a loud `require` BEFORE the first
    * `broadcast()`. Runs eagerly at operator-call time — the count
    * re-aggregates the already-checkpointed token frame, and failing
    * here beats failing as an executor OOM mid-broadcast.
    */
  private def requireModelBroadcastable(
      finestModel: DataFrame,
      opName: String,
      numBuckets: Int,
      maxModelRows: Long
  ): Unit = {
    require(maxModelRows >= 1, s"maxModelRows must be >= 1, got $maxModelRows")
    val rows = finestModel.count()
    require(rows <= maxModelRows,
      s"$opName: the reference-slice n-gram model has $rows rows " +
        s"(> maxModelRows=$maxModelRows) — too large to broadcast to every " +
        s"executor. Lower numBuckets (currently $numBuckets) to coarsen the " +
        "hashed model, shrink the reference slice, or raise maxModelRows " +
        "deliberately if the cluster can take the broadcast.")
  }

  /** Docs whose cumulative token count, in (rankCol desc, id asc)
    * order, stays within `budgetTokens`. Output: id, the rank column,
    * `tokens`, and `cum_tokens` (the doc's inclusive prefix total).
    *
    * @param rankCol  quality/score column — quantize it (round / cast
    *                 decimal) BEFORE calling if it comes from float
    *                 arithmetic, so cross-engine ordering is stable
    */
  def selectByBudget(
      docs: DataFrame,
      idCol: String,
      rankCol: String,
      tokensCol: Column,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val base = docs.select(col(idCol), col(rankCol), tokensCol.cast("long").as("tokens"))
    // the two-pass machinery lives in GlobalOrder (shared with
    // shardBalanced and Mixture.unimaxAllocation since round 7)
    graft.core.GlobalOrder
      .withPrefix(base, Seq(col(rankCol).desc, col(idCol).asc), col("tokens"),
        cumName = "cum_tokens", rankName = "_grk")
      .df
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col(rankCol), col("tokens"), col("cum_tokens"))
  }

  /** Balanced no-split sharding — the layout sibling of
    * [[graft.llm.TextAnalysis.packSequences]]'s concat-and-chop:
    * distribute WHOLE documents across `ceil(total_tokens /
    * budgetTokens)` shards with near-equal token mass (shard files for
    * N trainers, per-worker tokenization inputs). Greedy LPT-style:
    * docs in (tokens desc, id) order round-robin over the shards,
    * which bounds every shard's load by avg + max-doc-tokens — and is
    * deterministic, unlike a best-fit heap, so the oracle replays it
    * with plain rank arithmetic.
    *
    * The global rank runs the same two-pass shape as
    * [[selectByBudget]]: range-repartition + in-partition sort,
    * per-partition row counts to the driver (control-plane sized),
    * per-partition offsets broadcast back — never a single-partition
    * window. Output: id, tokens, shard (0-based), n_shards.
    */
  def shardBalanced(
      docs: DataFrame,
      idCol: String,
      tokensCol: Column,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val base = docs.select(col(idCol), tokensCol.cast("long").as("tokens"))
    val pf = graft.core.GlobalOrder
      .withPrefix(base, Seq(col("tokens").desc, col(idCol).asc), col("tokens"),
        cumName = "_cum", rankName = "rk")
    val nShards = math.max(1L, (pf.totalSum + budgetTokens - 1) / budgetTokens)
    pf.df
      .select(col(idCol), col("tokens"),
        pmod(col("rk") - 1, lit(nShards)).as("shard"),
        lit(nShards).as("n_shards"))
  }

  /** The count stage every hashed n-gram scorer shares: ONE scan (via
    * [[graft.core.Fan.out]]) tokenizes the corpus into per-(doc, n-gram
    * bucket) counts `n`, map-side combined, so the exchange carries at
    * most doc_len rows per doc and never raw tokens.
    *
    * Token adjacency is built IN ARRAY LAND — no per-doc window shuffle:
    * slot 0 is the words array and slot k ≥ 1 is the same array shifted
    * right by k (NULLs in front, cut to the same length), zipped and
    * exploded together. Slot k's bucket `b<k>` is
    * `pmod(strhash(word), B)`; a history slot that falls before the
    * document's first word takes the reserved start context B (outside
    * 0..B−1). Docs with zero words (or NULL text) have no rows and drop
    * out, mirrored by the oracles' unnest.
    *
    * Output: id, `flagName`, payload, `b0` … `b<order−1>`, `n` —
    * localCheckpoint'd, since it feeds both the models and the scoring
    * pass.
    */
  private def ngramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      flag: Column,
      flagName: String,
      payload: Seq[Column],
      order: Int,
      numBuckets: Int
  ): DataFrame = {
    val bLit = lit(numBuckets.toLong)
    val ws = TextOps.words(col(textCol))
    val slots = (0 until order).map {
      case 0 => ws.as("s0")
      case k => concat(
          array_repeat(lit(null).cast("string"), least(size(ws), lit(k))),
          slice(ws, lit(1), greatest(size(ws) - k, lit(0)))).as(s"s$k")
    }
    val buckets = (0 until order).map {
      case 0 => pmod(strhash(col("z.s0")), bLit).as("b0")
      case k => coalesce(pmod(strhash(col(s"z.s$k")), bLit), bLit).as(s"b$k")
    }
    graft.core.Fan.out(docs)
      .select(col(idCol) +: flag.as(flagName) +: payload :+
        explode(arrays_zip(slots: _*)).as("z"): _*)
      .groupBy(col(idCol) +: col(flagName) +: payload ++: buckets: _*)
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
  }

  /** The slot buckets of an order-k n-gram, oldest history first. */
  private def gram(k: Int): Seq[String] = ((k - 1) to 0 by -1).map(j => s"b$j")

  /** The scoring tail both LM scorers share. It left-joins the model
    * ladder onto the counted frame as broadcasts, highest order first:
    * for k = order … 1 the n-gram table `t(k − 1)` on the newest k
    * slots, then (k ≥ 2) its context table `ctx(k − 2)` on the k − 1
    * older ones. It cross-joins the one-row totals, quantizes each
    * bucket's log-prob `p` round(,6) → DECIMAL, and reduces per doc:
    * `cross_entropy = −Σ n·lp / Σ n`. The dot product is an exact
    * decimal sum (order-independent, so shuffle order cannot move a
    * bit) and the closing division has bit-identical operands in both
    * engines.
    */
  private def crossEntropy(
      db: DataFrame,
      t: Seq[DataFrame],
      ctx: Seq[DataFrame],
      tot: DataFrame,
      p: Column,
      idCol: String,
      payload: Seq[Column]
  ): DataFrame = {
    val keys = col(idCol) +: col("is_ref") +: payload
    val models = (t.size to 1 by -1).flatMap { k =>
      (t(k - 1), gram(k)) +: (if (k > 1) Seq((ctx(k - 2), gram(k).init)) else Nil)
    }
    models
      .foldLeft(db) { case (acc, (m, on)) => acc.join(broadcast(m), on, "left") }
      .crossJoin(broadcast(tot))
      .withColumn("lp", round(log(p), 6).cast("decimal(18,6)"))
      .groupBy(keys: _*)
      .agg(
        sum(col("n")).as("n_tokens"),
        sum(col("n") * col("lp")).as("lps"))
      .select(keys :+ col("n_tokens") :+
        (-(col("lps").cast("double")) / col("n_tokens").cast("double"))
          .as("cross_entropy"): _*)
  }

  private def requireOrder(order: Int, range: Range, opName: String): Unit =
    require(range.contains(order),
      s"$opName: order must be in ${range.start}..${range.end}, got $order")

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by the log-likelihood ratio of a TARGET
    * hashed bag-of-words model over a RAW model — the
    * domain-relevance score whose exponential is the importance weight
    * DSIR resamples by (compose with [[graft.operators.Shedding]]'s
    * weighted sampler, or cut a prefix with [[selectByBudget]]).
    *
    * Model: words hash into `numBuckets` buckets; the target model
    * counts tokens of docs matching `targetPred`, the raw model counts
    * the rest; both are add-one smoothed, so buckets unseen in one
    * class still get finite ratios. Per doc:
    * Σ_buckets n(doc,b) · log(p_t(b) / p_r(b)).
    *
    * Cross-engine FP discipline: each bucket's log ratio is
    * ln( ((c_t+1)·(R+B)) / ((c_r+1)·(T+B)) ) with both products EXACT
    * long arithmetic (documented precondition: class tokens × class
    * tokens stays under 2^53 — hash-bucket models are built per corpus
    * SLICE long before that bound binds), ONE double divide and one
    * ln, quantized to DECIMAL(18,6); the per-doc score is then an
    * exact decimal dot product n·lr.
    *
    * Scale shape: the [[ngramCounts]] stage at order 1; the bucket
    * models re-aggregate THAT frame (B-row output), and the log-ratio
    * table is a broadcast at any corpus size (B rows, fixed by config).
    *
    * Output: id, `is_target`, any `payloadCols` (doc attributes riding
    * the single scan — no second corpus join downstream), `n_tokens`,
    * `dsir_score` (double).
    */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      numBuckets: Int = 1 << 12,
      payloadCols: Seq[String] = Nil,
      maxModelRows: Long = MaxBroadcastModelRows
  ): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // the log-ratio model is one row per bucket — structurally ≤
    // numBuckets rows, so the broadcast bound is checkable at entry
    // with no count job
    require(numBuckets <= maxModelRows,
      s"dsirWeights: numBuckets=$numBuckets exceeds maxModelRows=$maxModelRows — " +
        "the bucket model broadcasts to every executor; lower numBuckets or " +
        "raise maxModelRows deliberately.")
    val bLit = lit(numBuckets.toLong)
    val payload = payloadCols.map(col)
    val db = ngramCounts(docs, idCol, textCol, targetPred, "is_target", payload, 1, numBuckets)
    val model = db.groupBy(col("b0")).agg(
      coalesce(sum(when(col("is_target"), col("n"))), lit(0L)).as("ct"),
      coalesce(sum(when(!col("is_target"), col("n"))), lit(0L)).as("cr"))
    val tot = model.agg(
      coalesce(sum(col("ct")), lit(0L)).as("t"),
      coalesce(sum(col("cr")), lit(0L)).as("r"))
    val lr = model.crossJoin(broadcast(tot))
      .select(col("b0"),
        round(log(((col("ct") + 1L) * (col("r") + bLit)).cast("double") /
          ((col("cr") + 1L) * (col("t") + bLit)).cast("double")), 6)
          .cast("decimal(18,6)").as("lr"))
    db.join(broadcast(lr), Seq("b0"))
      .groupBy(col(idCol) +: col("is_target") +: payload: _*)
      .agg(
        sum(col("n")).as("n_tokens"),
        sum(col("n") * col("lr")).cast("double").as("dsir_score"))
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", arXiv:1911.00359): score every document by the per-token
    * CROSS-ENTROPY of an interpolated add-one hashed n-gram LM of
    * Markov order `order` − 1, trained on a REFERENCE slice (`refPred`
    * — the wiki-like high-quality subset; cross-entropy is ln(ppl), so
    * CCNet's perplexity thresholds translate directly). Companion to
    * [[dsirWeights]]: DSIR scores target-vs-raw contrast, this scores
    * absolute closeness to the reference distribution.
    *
    * Per token, with `lambdas` = (λ_n … λ_2) highest order first and
    * λ_1 = 1 − λ_n − … − λ_2:
    *
    *   ln(Σ_k λ_k·P_k),  P_k = (c(h_k, w) + 1) / (c(h_k ·) + B)
    *
    * where h_k is the k − 1 words before w (the start context B where
    * the document has none) and P_1's context count is the reference
    * total. Order 1 is the bag-of-words unigram (no lambdas); unseen
    * buckets back off to the add-one floor instead of −∞.
    *
    * Cross-engine FP discipline: every count is an exact long, each
    * P_k one double division, the λ_k shared driver-computed literals
    * (rendered as plain strings by the oracles), the mixture summed
    * highest order first, and each per-token log-prob quantized
    * round(,6) → DECIMAL before the exact count-weighted sums
    * ([[crossEntropy]]). Perplexity itself is deliberately NOT
    * emitted: exp of an aggregated double is the one op whose last ulp
    * may differ between engines' libm; threshold in ln-space instead.
    *
    * Scale shape: [[ngramCounts]] at `order` (one counted exchange),
    * then 2·order − 1 broadcast model tables, each a group-by of the
    * reference rows. Order 1's model is ≤ B rows, so its broadcast
    * bound checks at entry with no job; from order 2 the finest table
    * is bounded by the reference slice's distinct hashed n-grams, and
    * one control-plane count REQUIRES it ≤ `maxModelRows` before the
    * first broadcast (fail-loud, never an executor OOM).
    *
    * Output: id, `is_ref`, any `payloadCols`, `n_tokens`,
    * `cross_entropy` (double, nats per token).
    */
  def lmCrossEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      refPred: Column,
      order: Int = 1,
      lambdas: Seq[Double] = Nil,
      numBuckets: Int = 1 << 12,
      payloadCols: Seq[String] = Nil,
      maxModelRows: Long = MaxBroadcastModelRows
  ): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    requireOrder(order, 1 to 3, "lmCrossEntropy")
    require(lambdas.size == order - 1,
      s"lmCrossEntropy: order $order takes ${order - 1} lambdas (highest order first), " +
        s"got ${lambdas.size}")
    require(lambdas.forall(_ > 0) && lambdas.sum < 1,
      s"lambdas must be positive with a sum below 1, got ${lambdas.mkString(", ")}")
    // the unigram model is one row per bucket — structurally ≤ numBuckets
    // rows, so the bound checks at entry, jobless
    if (order == 1) require(numBuckets <= maxModelRows,
      s"lmCrossEntropy: numBuckets=$numBuckets exceeds maxModelRows=$maxModelRows — " +
        "the reference model broadcasts to every executor; lower numBuckets or " +
        "raise maxModelRows deliberately.")
    val bLit = lit(numBuckets.toLong)
    val payload = payloadCols.map(col)
    val db = ngramCounts(docs, idCol, textCol, refPred, "is_ref", payload, order, numBuckets)
    val ref = db.filter(col("is_ref"))
    val t = (1 to order).map(k =>
      ref.groupBy(gram(k).map(col): _*).agg(sum(col("n")).as(s"c$k")))
    val ctx = (2 to order).map(k =>
      ref.groupBy(gram(k).init.map(col): _*).agg(sum(col("n")).as(s"x$k")))
    // the order-n table is the FINEST model: every other table coarsens
    // its group keys, so one count bounds all the broadcasts
    if (order > 1) requireModelBroadcastable(t.last, "lmCrossEntropy", numBuckets, maxModelRows)
    val tot = t.head.agg(coalesce(sum(col("c1")), lit(0L)).as("t"))
    def prob(k: Int): Column =
      (coalesce(col(s"c$k"), lit(0L)) + 1L).cast("double") /
        ((if (k == 1) col("t") else coalesce(col(s"x$k"), lit(0L))) + bLit).cast("double")
    // λ_1 subtracts left to right, as the oracle renders it
    // (1.0 − 0.5 − 0.3 is 0.2 in doubles; 1.0 − (0.5 + 0.3) is not)
    val weights = lambdas :+ lambdas.foldLeft(1.0)(_ - _)
    val mix =
      if (order == 1) prob(1)
      else (order to 1 by -1).zip(weights).map { case (k, l) => lit(l) * prob(k) }.reduce(_ + _)
    crossEntropy(db, t, ctx, tot, mix, idCol, payload)
  }

  /** Interpolated Kneser–Ney cross-entropy at `order` 2 or 3 — the
    * smoothing the CCNet-class perplexity filters actually run (Kneser
    * & Ney 1995; Chen & Goodman 1999 §3's interpolated form). Instead
    * of add-one mass spread uniformly, each count is ABSOLUTELY
    * DISCOUNTED by `discount` and the freed mass backs off one order to
    * a CONTINUATION distribution — how many distinct contexts complete
    * this way, not how often ("Francisco" is frequent but only ever
    * follows "San", so its continuation probability is tiny). The
    * highest order discounts RAW reference counts; every lower order
    * discounts continuation TYPE counts, the KN insight applied
    * recursively:
    *
    *   P_k(w|h) = max(c_k(h,w) − D, 0)/c_k(h·) + D·N₁₊(h·)/c_k(h·) · P_{k−1}(w|h')
    *   P_1(w)   = (N₁₊(·w) + 1) / (N₁₊(··) + B)
    *
    * with c_n the raw counts, c_k (k < n) the number of distinct
    * older words preceding (h', w), N₁₊(h·) the distinct words after
    * h, and N₁₊(··) the number of distinct bigram types. A context h
    * unseen in the reference backs off to P_{k−1} alone; the +1/+B on
    * P_1 keeps unseen buckets finite (the hashed-vocabulary analog of
    * KN's unigram floor).
    *
    * Every table derives from the order-n TYPE table T_n (T_{k−1} is
    * T_k grouped by its newest k − 1 slots, counting rows), so type and
    * token counts stay consistent and ONE count of T_n guards all the
    * broadcasts ([[MaxBroadcastModelRows]]).
    *
    * Cross-engine FP discipline: each order is a FIXED sequence of
    * IEEE double ops over exact longs — subtract/max/divide for the
    * discounted term, a multiply-divide back-off weight, one
    * multiply-add — mirrored op-for-op by the oracles, then the
    * [[crossEntropy]] quantized tail. `discount` renders as a shared
    * plain-string literal in both engines.
    *
    * Scale shape: [[ngramCounts]] at `order` (one counted exchange),
    * T_n and T_2 … T_{n−1} localCheckpoint'd (each feeds its coarsenings
    * AND the scoring join), 2·order broadcast model joins.
    */
  def lmCrossEntropyKneserNey(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      refPred: Column,
      order: Int = 2,
      discount: Double = 0.75,
      numBuckets: Int = 1 << 12,
      payloadCols: Seq[String] = Nil,
      maxModelRows: Long = MaxBroadcastModelRows
  ): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    requireOrder(order, 2 to 3, "lmCrossEntropyKneserNey")
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val bLit = lit(numBuckets.toLong)
    val payload = payloadCols.map(col)
    val db = ngramCounts(docs, idCol, textCol, refPred, "is_ref", payload, order, numBuckets)
    val top = db.filter(col("is_ref"))
      .groupBy(gram(order).map(col): _*).agg(sum(col("n")).as(s"c$order"))
      .localCheckpoint(false) // feeds every lower-order table AND the scoring join
    requireModelBroadcastable(top, "lmCrossEntropyKneserNey", numBuckets, maxModelRows)
    // T_{k−1} = T_k by its newest k − 1 slots, counting types; t(k − 1) = T_k
    val t = (order to 2 by -1).scanLeft(top) { (tk, k) =>
      val lower = tk.groupBy(gram(k - 1).map(col): _*).agg(count(lit(1)).as(s"c${k - 1}"))
      if (k > 2) lower.localCheckpoint(false) else lower
    }.reverse
    // ctx_k = T_k by its context: token sum and type count
    val ctx = (2 to order).map(k => t(k - 1).groupBy(gram(k).init.map(col): _*)
      .agg(sum(col(s"c$k")).as(s"x$k"), count(lit(1)).as(s"n$k")))
    val tot = t(1).agg(count(lit(1)).as("nt"))
    val dLit = lit(discount)
    val pc = (coalesce(col("c1"), lit(0L)) + 1L).cast("double") /
      (col("nt") + bLit).cast("double")
    val p = (2 to order).foldLeft(pc) { (lower, k) =>
      val xd = col(s"x$k").cast("double")
      when(col(s"x$k").isNotNull,
        greatest(coalesce(col(s"c$k"), lit(0L)).cast("double") - dLit, lit(0.0)) / xd +
          dLit * col(s"n$k").cast("double") / xd * lower)
        .otherwise(lower)
    }
    crossEntropy(db, t, ctx, tot, p, idCol, payload)
  }

  /** The DSIR resampling step: draw `k` docs PER `groupCol` slice,
    * without replacement, with probability proportional to the
    * exponentiated [[dsirWeights]] score — via the Gumbel top-k
    * identity (key = score + Gumbel(0,1), take the k largest), which
    * never materializes exp(score) and so never overflows however
    * confident the score. The Gumbel draw rides the repo's
    * deterministic squared-hash uniform, so both engines select the
    * same set; ranking runs on [[graft.plans.TopKPerKey]] (per-key
    * heaps, never a global window).
    */
  def dsirResample(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      targetPred: Column,
      k: Int,
      numBuckets: Int = 1 << 12
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = dsirWeights(docs, idCol, textCol, targetPred, numBuckets,
      payloadCols = Seq(groupCol))
    val h = strhash(concat(lit("dsir:"), col(idCol).cast("string")))
    val u = (pmod(h * h, lit(1000000007L)) + lit(1L)).cast("double") / lit(1000000008.0)
    val keyed = scored.withColumn("g_key", col("dsir_score") + -log(-log(u)))
    graft.plans.TopKPerKey(
      spark, keyed, Seq(groupCol), Seq("g_key" -> true, idCol -> false), k)
      .drop("g_key")
  }

  /** Greedy maximum-coverage selection (Nemhauser et al. 1978's
    * (1 − 1/e) greedy): pick `k` documents that together cover the
    * most DISTINCT shingles — the coverage-driven data-selection
    * policy (diversity by construction: a doc near-duplicating an
    * already-chosen one has near-zero marginal gain, so greedy
    * coverage subsumes a dedup pass). Ties break toward the smaller
    * doc id; rounds stop early once everything is covered.
    *
    * Output, one row per chosen doc: `(round, doc, gain,
    * covered_total)` — the marginal distinct-shingle gain and the
    * running coverage.
    *
    * Scale shape: greedy is INHERENTLY sequential — k rounds, each one
    * anti-join + map-side-combined aggregate over the checkpointed
    * (doc, shingle) table, with exactly ONE winner row collected per
    * round (control-plane sized; the covered set stays distributed,
    * growing behind per-round lazy checkpoints that also cap lineage).
    * The k-scan cost is the honest price of the greedy guarantee; the
    * at-scale knob is k, not the corpus.
    */
  def greedyCoverage(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(k > 0, s"k must be positive, got $k")
    val sh = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(TextOps.shingleHashes(col(textCol))).as("h"))
      .localCheckpoint(false) // scanned once per round — materialize the tokenize
    val covered0 = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("h", LongType, nullable = false))))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    graft.core.Rounds.run("greedyCoverage", (covered0, 0L), k) { case ((covered, total), r) =>
      val win = sh.join(covered, Seq("h"), "left_anti")
        .groupBy(col("doc")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc"))
        .limit(1).collect()
      if (win.isEmpty) ((covered, total), true)
      else {
        val doc = win.head.getLong(0)
        val gain = win.head.getLong(1)
        out += Row(r.toLong, doc, gain, total + gain)
        ((graft.core.Rounds.checkpoint(covered
          .unionAll(sh.filter(col("doc") === doc).select(col("h")))
          .distinct()), total + gain), false)
      }
    }
    // explicit-schema createDataFrame (repo invariant: no case-class
    // toDF for driver-side constants)
    spark.createDataFrame(
      java.util.Arrays.asList(out.toSeq: _*),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("doc", LongType, nullable = false),
        StructField("gain", LongType, nullable = false),
        StructField("covered_total", LongType, nullable = false))))
  }

  /** Deterministic contrastive negative sampling — the pair-builder a
    * contrastive/embedding training run needs (in-batch negatives made
    * reproducible): for every anchor row, `k` negatives drawn from a
    * SHARED hash-selected candidate pool, excluding the anchor itself
    * and its own label class. Both draws are pure functions of the
    * ids (the squared-strhash uniformizer — sequential ids sample
    * uniformly), so resharding, re-running, or replaying in DuckDB
    * yields the identical pairs.
    *
    * Scale shape: the pool is the bottom-`poolSize` rows by pool hash
    * — one TakeOrderedAndProject, never a global sort — and the
    * anchor × pool expansion rides a BROADCAST of those `poolSize`
    * rows (anchors × poolSize work, the quadratic is capped by the
    * pool knob, never anchors × corpus); the per-anchor top-k is a
    * window over ≤ poolSize rows keyed by the anchor. A label-skewed
    * corpus can starve a class (pool members all share its label) —
    * size the pool a few multiples of k · classes.
    *
    * Output: (anchor, rank, neg_id, neg_label), rank 1..≤k by the
    * pair hash (ties to the smaller candidate id).
    */
  def negativeSamples(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      k: Int,
      poolSize: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(poolSize >= k, s"poolSize must be >= k, got $poolSize vs $k")
    val p = graft.functions.StrHash.P
    def sqHash(salt: String, c: Column): Column = {
      val h = graft.functions.GraftFunctions.strhash(
        concat(lit(salt), c.cast("string")))
      pmod(h * h, lit(p))
    }
    val pool = df
      .select(col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
        sqHash("negp:", col(idCol)).as("pk"))
      .orderBy(col("pk"), col("neg_id"))
      .limit(poolSize)
      .select(col("neg_id"), col("neg_label"))
    val anchors = df.select(col(idCol).as("anchor"), col(labelCol).as("_albl"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor")).orderBy(col("qk"), col("neg_id"))
    // anchors × pool via crossJoin(broadcast(...)) — the IvfIndex
    // quantization precedent: the nested loop is over the POOL KNOB
    // (≤ poolSize rows), never the corpus
    anchors
      .crossJoin(broadcast(pool))
      .filter(col("anchor") =!= col("neg_id") && !(col("_albl") <=> col("neg_label")))
      .withColumn("qk",
        sqHash("negq:", concat(col("anchor").cast("string"), lit(":"),
          col("neg_id").cast("string"))))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor"), col("rank"), col("neg_id"), col("neg_label"))
  }
}
