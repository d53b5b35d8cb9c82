package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing corpus-pipeline DSL — the LLM-data analog of
  * [[graft.core.FeatureFrame]]'s feature-table surface: a document
  * corpus (id + text) with chainable curation stages. Each stage is a
  * thin delegation to the library operators (TextAnalysis / Dedup /
  * Shedding), so the whole chain stays ONE lazy Catalyst plan until an
  * action runs — filters compose and push down, feature joins broadcast
  * their (per-doc aggregate) right sides, and nothing materializes
  * per-stage.
  *
  * Typical chain (the curation shape a pretraining corpus runs):
  * {{{
  * CorpusFrame(docs, "doc_id", "text")
  *   .filterQuality(0.3)
  *   .filterLang("en")
  *   .dedupExact()
  *   .decontaminateAgainst(evalDocs, maxOverlap = 0.5)
  *   .quotaPerGroup(spark, "source", k = 1000)
  *   .packSequences("source", budget = 2048)
  * }}}
  */
final case class CorpusFrame(df: DataFrame, idCol: String, textCol: String) {

  private def joinFeature(feature: DataFrame, cols: Seq[String]): DataFrame =
    df.join(
      feature.select((col("doc").as(idCol) +: cols.map(col)): _*),
      Seq(idCol), "left")

  /** Attach quality-score columns (TextAnalysis.quality). */
  def withQuality(cols: String*): CorpusFrame = {
    val keep = if (cols.nonEmpty) cols else Seq("quality_score")
    copy(df = joinFeature(TextAnalysis.quality(df, idCol, textCol), keep))
  }

  /** Keep docs scoring at least `min` (drops the staging column). */
  def filterQuality(min: Double): CorpusFrame =
    copy(df = withQuality("quality_score").df
      .filter(col("quality_score") >= min).drop("quality_score"))

  /** Attach the predicted language (TextAnalysis.langId). */
  def withLang(): CorpusFrame =
    copy(df = joinFeature(TextAnalysis.langId(df, idCol, textCol), Seq("pred_lang")))

  /** Keep docs whose predicted language is `lang`. */
  def filterLang(lang: String): CorpusFrame =
    copy(df = withLang().df.filter(col("pred_lang") === lang).drop("pred_lang"))

  /** Exact dedup: keep each distinct text's lowest-id copy. */
  def dedupExact(): CorpusFrame = {
    val canon = Dedup.exact(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    copy(df = df.join(canon, Seq(idCol), "left_semi"))
  }

  /** Near-dup dedup: MinHash-LSH pairs → connected components → keep
    * each cluster's canonical member (Dedup.canonicalize).
    */
  def dedupNear(minJaccard: Double): CorpusFrame = {
    val pairs = Dedup.minhashPairs(df, idCol, textCol, minJaccard)
    copy(df = Dedup.canonicalize(df, idCol, pairs))
  }

  /** Drop docs whose shingle overlap with `evalDocs` reaches
    * `maxOverlap` (Dedup.contamination — broadcast eval set). The
    * quarantine anti-join itself carries NO broadcast hint: the dirty
    * set is O(contaminated docs), unbounded on a web corpus — AQE
    * broadcasts at runtime when it is in fact small.
    */
  /** [[decontaminateAgainst]] with a precomputed / persisted
    * [[Dedup.evalShingleSet]] — what a per-micro-batch gate reloads
    * instead of re-shingling the benchmark corpus every batch.
    */
  def decontaminateAgainstShingles(evalShingles: DataFrame, maxOverlap: Double): CorpusFrame = {
    val dirty = Dedup.contaminationAgainstSet(df, evalShingles, idCol, textCol)
      .filter(col("contamination") >= maxOverlap)
      .select(col("doc").as(idCol))
    copy(df = df.join(dirty, Seq(idCol), "left_anti"))
  }

  def decontaminateAgainst(evalDocs: DataFrame, maxOverlap: Double): CorpusFrame = {
    val dirty = Dedup.contamination(df, evalDocs, idCol, textCol)
      .filter(col("contamination") >= maxOverlap)
      .select(col("doc").as(idCol))
    copy(df = df.join(dirty, Seq(idCol), "left_anti"))
  }

  /** Incremental-ingest near-dup dedup: drop docs of THIS corpus (the
    * new snapshot) that near-duplicate `existing` (the accumulated
    * corpus) — Dedup.dedupAgainst's band-bucketed cross-corpus join.
    */
  def dedupAgainst(existing: DataFrame, minJaccard: Double): CorpusFrame =
    copy(df = Dedup.dedupAgainst(df, existing, idCol, textCol, minJaccard))

  /** Drop docs more than `maxFraction` composed of spans that also
    * occur in other documents (Dedup.spanDuplication) — the
    * span-level cut that catches template/boilerplate text exact and
    * near dedup both miss (each doc unique as a whole, most of its
    * content copied).
    */
  def filterSpanDup(maxFraction: Double): CorpusFrame = {
    val dupped = Dedup.spanDuplication(df, idCol, textCol)
      .filter(col("dup_fraction") > maxFraction)
      .select(col("doc").as(idCol))
    copy(df = df.join(dupped, Seq(idCol), "left_anti"))
  }

  /** Per-group length-outlier tail cut
    * (TextAnalysis.trimLengthOutliers): drop each group's shortest
    * `loPermille`/1000 and longest `hiPermille`/1000 docs by length
    * rank.
    */
  /** Attach the order-2 Kneser–Ney cross-entropy against an in-corpus
    * reference slice ([[Selection.lmCrossEntropyKneserNey]] at its
    * default `order = 2`) — the CCNet-style LM quality signal as a
    * chainable stage. `refPred`
    * marks the reference rows (e.g. `col("lang") === "en"`). Note:
    * unlike the pure-filter stages this one is EAGER at its broadcast
    * guard (the model-size count) and checkpoints its token table;
    * zero-word docs get a NULL score.
    */
  def withPerplexity(
      refPred: org.apache.spark.sql.Column,
      numBuckets: Int = 1 << 12
  ): CorpusFrame = {
    val scored = Selection
      .lmCrossEntropyKneserNey(df, idCol, textCol, refPred, numBuckets = numBuckets)
      .select(col(idCol), col("cross_entropy"))
    copy(df = df.join(scored, Seq(idCol), "left"))
  }

  /** Keep docs whose KN cross-entropy stays below `maxCe` — the CCNet
    * head/middle perplexity cut in ln-space (thresholds translate:
    * ce = ln(ppl)). Zero-word docs have no score and drop (no
    * evidence — the conservative gate).
    */
  def filterPerplexity(
      refPred: org.apache.spark.sql.Column,
      maxCe: Double,
      numBuckets: Int = 1 << 12
  ): CorpusFrame =
    copy(df = withPerplexity(refPred, numBuckets).df
      .filter(col("cross_entropy") < maxCe).drop("cross_entropy"))

  def trimLengthOutliers(
      groupCol: String,
      lenCol: String,
      loPermille: Int,
      hiPermille: Int
  ): CorpusFrame =
    copy(df = TextAnalysis.trimLengthOutliers(
      df, groupCol, lenCol, idCol, loPermille, hiPermille))

  /** Deterministic quota: keep `k` docs per `groupCol`
    * (Shedding.quotaSample on TopKPerKey bounded heaps).
    */
  def quotaPerGroup(spark: SparkSession, groupCol: String, k: Int): CorpusFrame =
    copy(df = graft.operators.Shedding.quotaSample(spark, df, groupCol, idCol, k)
      .drop("pick_h"))

  /** Concat-and-chop the surviving docs into `budget`-token training
    * sequences, grouped by `groupCol` (TextAnalysis.packSequences).
    * Terminal: the result is the packing manifest, not a corpus.
    */
  def packSequences(groupCol: String, budget: Int): DataFrame =
    TextAnalysis.packSequences(
      df, idCol, groupCol, size(TextOps.words(col(textCol))), budget)

  /** Remaining docs (the curated corpus). */
  /** Materialize the chain so far (localCheckpoint, lazy-freed).
    *
    * Use when the prefix fans out into SEVERAL downstream actions — a
    * funnel report counting every stage, a stage feeding both a
    * feature join and a selection — so expensive upstream stages
    * (span-dup profiling, trimming windows) compute once instead of
    * once per action. `localCheckpoint(false)`, not `cache()`: the
    * blocks free when the result is garbage-collected (no unpersist
    * obligation on callers) and the LogicalRDD is the same
    * CollapseProject barrier the dedup signature tables rely on.
    */
  def materialize(): CorpusFrame = copy(df = df.localCheckpoint(false))

  def result: DataFrame = df
}
