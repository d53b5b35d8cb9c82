package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis scalar features for corpus curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (codegen-friendly, no UDFs); constants shared with the
  * oracle SQL generator.
  */
object TextAnalysis {

  /** Per-language marker word lists for the n-gram/stopword language-ID
    * heuristic. Order matters: argmax ties resolve in this sequence.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "y", "una", "en"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3")
  )

  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Tokens matched by the BPE-ish splitter: letter runs, digit runs,
    * single punctuation marks.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  private def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(markers)))

  /** The argmax-with-first-listed-tie-break chain over the `s_<lang>`
    * score columns: lang L wins iff its score > 0, strictly beats every
    * earlier language, and is >= every later one; no hits at all →
    * "und". Kept as a SECOND projection over the scored columns (never
    * inlined over the raw word array): each score is referenced several
    * times by the comparisons, and CollapseProject leaves
    * multiply-referenced non-cheap expressions in their own projection,
    * so the marker filters evaluate once per row.
    */
  private def argmaxLang: Column = {
    val langs = LangMarkers.map(_._1)
    var expr: Column = lit("und")
    for ((lang, i) <- langs.zipWithIndex.reverse) {
      val mine = col(s"s_$lang")
      val geAll = langs.zipWithIndex
        .filter(_._2 != i)
        .map { case (other, j) =>
          if (j < i) mine > col(s"s_$other") else mine >= col(s"s_$other")
        }
        .reduce(_ && _)
      expr = when(mine > 0 && geAll, lang).otherwise(expr)
    }
    expr
  }

  /** Language ID: count marker-word hits per language, argmax with
    * first-listed-language tie-break; no hits at all → "und".
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = TextOps.words(col(textCol))
    // Fan.out: per-doc marker scans are the whole cost — parallelize
    // the map stage on single-split inputs (no-op on real layouts)
    val scored = graft.core.Fan.out(docs).select(
      (col(idCol).as("doc") +:
        LangMarkers.map { case (lang, ms) => markerCount(ws, ms).as(s"s_$lang") }): _*
    )
    val langs = LangMarkers.map(_._1)
    scored.select(
      (col("doc") +: langs.map(l => col(s"s_$l")) :+ argmaxLang.as("pred_lang")): _*
    )
  }

  /** Quality score: weighted blend of stopword ratio, capped average
    * word length, and alphabetic-character ratio. Deterministic double
    * arithmetic, identical operation order in the oracle.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = TextOps.words(t)
    val nWords = size(ws)
    val stopRatio = size(filter(ws, w => w.isInCollection(EnStopwords))).cast("double") / nWords
    val avgWordLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWords
    // fused byte-scan count (graft_alpha_count) instead of
    // length(regexp_replace(t, "[^A-Za-z]", "")): identical value, one
    // allocation-free pass (the oracle keeps the regexp spelling)
    val alphaRatio = {
      import org.apache.spark.sql.graft.Bridge
      Bridge.column(graft.functions.AsciiAlphaCount(Bridge.expression(t)))
        .cast("double") / length(t)
    }
    // NOT fanned: quality's per-doc cost is light enough that the
    // exchange is a wash standalone (0.56 → 0.63 s measured), and the
    // curation-gate chain re-evaluates this frame once per stage
    // branch — a fan here taxed q_curation_gate ~1.2 s
    docs.select(
      col(idCol).as("doc"),
      nWords.as("n_words"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(avgWordLen, 6).as("avg_word_len"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(
        stopRatio * 0.4 + least(avgWordLen / 10.0, lit(1.0)) * 0.3 + alphaRatio * 0.3,
        6
      ).as("quality_score")
    )
  }

  /** Gopher-style repetition stats — the repetition quality rules
    * (heavily repetitive docs are boilerplate/spam): type-token ratio
    * (distinct words / words) and top-word frequency ratio. One explode
    * + two aggregations, both with map-side partial combine; shuffles
    * keyed by (doc, word) then doc — no per-doc history materialized.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(TextOps.words(col(textCol))).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("doc"))
      .agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(
        col("doc"),
        col("n_words"),
        col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_words"), 6).as("distinct_ratio"),
        round(col("top_count").cast("double") / col("n_words"), 6).as("top_word_ratio"))
  }

  /** Symbols counted by the Gopher symbol-to-word rule: hash marks and
    * ASCII ellipses. Alternation is left-to-right non-overlapping in
    * both Java regex and RE2, so "...." counts one ellipsis in both
    * engines.
    */
  val SymbolPattern = "#|\\.\\.\\."

  /** Gopher-style hard quality rules (Rae et al. 2021, appendix A1.1 —
    * the threshold gate a pretraining pipeline runs BEFORE scoring):
    * per-doc rule metrics plus the conjunction `pass`. Rules covered:
    * word-count bounds, mean-word-length bounds, minimum stopword hits
    * (the "contains ≥2 stop words" natural-language check), the
    * adjacent-repetition cut (top word-bigram fraction — the
    * most-frequent 2-gram must not dominate the doc), the
    * symbol-to-word ratio (# / ellipsis spam), the bullet-line and
    * ellipsis-line fractions, and the minimum fraction of words
    * containing an alphabetic character.
    *
    * Degenerate docs are guarded so `pass` is NEVER null: zero-word
    * docs get null ratio metrics (not NaN/Infinity from 0/0), and each
    * nullable conjunct is coalesced — word-shape rules (mean word
    * length, alpha-word fraction) fail a wordless doc, while
    * dominance rules (top bigram, symbol ratio) pass vacuously and
    * leave the word-count bound to reject it.
    *
    * Scale shape: the scalar metrics are one codegen'd projection
    * (array HOFs bound once per row); the top-bigram fraction goes
    * through explode → (doc, bigram-hash) count → per-doc max — a
    * map-side-combined aggregate, NEVER a per-doc O(n²) lambda rescan
    * (HOF re-inlining hazard), and the bigram identity travels as the
    * fused 60-bit pair hash ([[TextOps.simhashFeatures]]), not the
    * string.
    */
  def qualityRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Long = 20L,
      maxWords: Long = 100000L,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      minStopwordHits: Long = 2L,
      maxTopBigramFrac: Double = 0.2,
      maxSymbolWordRatio: Double = 0.1,
      maxEllipsisLineFrac: Double = 0.3,
      maxBulletLineFrac: Double = 0.9,
      minAlphaWordFrac: Double = 0.8
  ): DataFrame = {
    val t = col(textCol)
    val ws = TextOps.words(t)
    val lns = split(t, "\n")
    val docsF = graft.core.Fan.out(docs) // per-doc HOF scans dominate
    val base = docsF.select(
      col(idCol).as("doc"),
      size(ws).cast("long").as("n_words"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("word_chars"),
      size(filter(ws, w => w.isInCollection(EnStopwords))).cast("long").as("stop_hits"),
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
      size(regexp_extract_all(t, lit(SymbolPattern), lit(0))).cast("long").as("n_symbols"),
      size(lns).cast("long").as("n_lines"),
      size(filter(lns, l => l.substr(lit(1), lit(2)).isin("- ", "* "))).cast("long")
        .as("bullet_lines"),
      size(filter(lns, l => endswith(l, lit("...")))).cast("long").as("ellipsis_lines"))
    val topBigram = docsF
      .select(col(idCol).as("doc"), explode(TextOps.simhashFeatures(t)).as("h"))
      .groupBy(col("doc"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"))
    val hasWords = col("n_words") > 0
    val mwl = when(hasWords, col("word_chars").cast("double") / col("n_words"))
    val symbolRatio = when(hasWords, col("n_symbols").cast("double") / col("n_words"))
    val alphaFrac = when(hasWords, col("alpha_words").cast("double") / col("n_words"))
    // n_lines >= 1 always (split of "" is [""]), so no guard needed
    val bulletFrac = col("bullet_lines").cast("double") / col("n_lines")
    val ellipsisFrac = col("ellipsis_lines").cast("double") / col("n_lines")
    val bigramFrac = col("top_c").cast("double") / col("n_bigrams").cast("double")
    base.join(topBigram, Seq("doc"), "left")
      .select(
        col("doc"),
        col("n_words"),
        round(mwl, 6).as("mean_word_len"),
        col("stop_hits"),
        round(bigramFrac, 6).as("top_bigram_frac"),
        round(symbolRatio, 6).as("symbol_word_ratio"),
        round(ellipsisFrac, 6).as("ellipsis_line_frac"),
        round(bulletFrac, 6).as("bullet_line_frac"),
        round(alphaFrac, 6).as("alpha_word_frac"),
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          coalesce(mwl >= minMeanWordLen && mwl <= maxMeanWordLen, lit(false)) &&
          col("stop_hits") >= minStopwordHits &&
          coalesce(bigramFrac <= maxTopBigramFrac, lit(true)) &&
          coalesce(symbolRatio <= maxSymbolWordRatio, lit(true)) &&
          ellipsisFrac <= maxEllipsisLineFrac &&
          bulletFrac <= maxBulletLineFrac &&
          coalesce(alphaFrac >= minAlphaWordFrac, lit(false))).as("pass"))
  }

  /** Token counting: whitespace tokens and BPE-ish regex tokens, plus
    * chars-per-token (the compression-ratio proxy used for corpus stats).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val wsTokens = size(TextOps.words(t))
    val bpeTokens = size(regexp_extract_all(t, lit(BpePattern), lit(0)))
    graft.core.Fan.out(docs).select(
      col(idCol).as("doc"),
      wsTokens.as("ws_tokens"),
      bpeTokens.as("bpe_tokens"),
      round(length(t).cast("double") / bpeTokens, 6).as("chars_per_token")
    )
  }

  /** Concatenate-and-chop sequence packing — the standard pretraining
    * batching layout: documents lie head-to-tail in (group, id) order
    * and the token stream is chopped into fixed `budget`-token
    * sequences. Emits each doc's token interval (start offset) and the
    * first/last sequence index it lands in (a doc spans several when it
    * straddles boundaries). Pure integer window arithmetic: one shuffle
    * on the group, a running-frame cumsum, integer DIV (never
    * double division — offsets exceed 2^53 at corpus scale), no
    * sequential fold.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      tokensCol: Column,
      budget: Int
  ): DataFrame = {
    require(budget > 0)
    val wk = Window.partitionBy(col("grp")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(groupCol).as("grp"), col(idCol).as("doc"), tokensCol.cast("long").as("tokens"))
      .withColumn("end_off", sum(col("tokens")).over(wk))
      .withColumn("start_off", col("end_off") - col("tokens"))
      .select(col("grp"), col("doc"), col("tokens"), col("start_off"),
        expr(s"start_off DIV $budget").as("first_seq"),
        expr(s"(end_off - 1) DIV $budget").as("last_seq"))
  }

  /** Deterministic train/val/test split assignment: hash the document id
    * into a per-mille bucket and label it by cumulative weight
    * thresholds. Hash-based — not random — so the split is stable across
    * reruns, engines, and corpus growth (a doc keeps its split when new
    * docs arrive; `sample()` would reshuffle everything), which is the
    * property an eval-set split must have to avoid train/test leakage
    * between pipeline versions. Pure per-row expression: no shuffle, no
    * state, embarrassingly parallel at any scale.
    *
    * @param splits (label, per-mille weight) pairs; weights must sum
    *               to 1000. A doc lands in the first label whose
    *               cumulative bound exceeds its bucket.
    */
  def assignSplit(
      docs: DataFrame,
      idCol: String,
      splits: Seq[(String, Int)]
  ): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000,
      s"split weights must sum to 1000 per-mille, got $splits")
    val bucket = graft.functions.GraftFunctions.strhash(col(idCol).cast("string")) % 1000
    docs.withColumn("split_bucket", bucket)
      .withColumn("split", splitLabel(col("split_bucket"), splits))
  }

  private def splitLabel(bucket: Column, splits: Seq[(String, Int)]): Column =
    splits.scanLeft(("", 0)) { case ((_, acc), (l, w)) => (l, acc + w) }.tail
      .foldRight(lit(splits.last._1): Column) { case ((l, bound), els) =>
        when(bucket < bound, lit(l)).otherwise(els)
      }

  /** Leakage-safe split assignment: [[assignSplit]] hashed on the
    * NEAR-DUP COMPONENT instead of the document id, so every member of
    * a near-duplicate cluster lands in the SAME split — the
    * train/test-contamination fix per-doc hashing cannot give you (a
    * doc's near-twin in the eval set leaks its content into training;
    * Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" measure exactly this eval inflation). `pairs` is
    * any near-dup pair frame (MinHash bands, SimHash, semantic — the
    * caller picks the blocked generator); docs in no pair split by
    * their own id, so the assignment degrades gracefully to
    * [[assignSplit]] on a dup-free corpus.
    *
    * Scale shape: the component table comes from the banded pair graph
    * ([[graft.operators.Graph.connectedComponents]], O(log² n) rounds
    * even on hub-skewed pair graphs), is pair-endpoint-sized (≪
    * corpus), and joins back keyed on the id; the split itself stays a
    * pure per-row hash. Output: input columns + `split_group`,
    * `split_bucket`, `split`.
    */
  def assignSplitLeakageSafe(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      splits: Seq[(String, Int)],
      maxIter: Int = 50
  ): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000,
      s"split weights must sum to 1000 per-mille, got $splits")
    val comp = graft.operators.Graph.connectedComponents(pairs, aCol, bCol, maxIter)
    val bucket =
      graft.functions.GraftFunctions.strhash(col("split_group").cast("string")) % 1000
    docs
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("split_group", coalesce(col("component"), col(idCol)))
      .drop("component")
      .withColumn("split_bucket", bucket)
      .withColumn("split", splitLabel(col("split_bucket"), splits))
  }

  /** PII detection patterns — conservative regexes that parse and match
    * identically under Java regex (Spark) and RE2 (DuckDB, Go tooling):
    * no lookaround, no backreferences, no possessive quantifiers.
    * Shared with the oracle generator.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

  /** PII scrubbing — the redaction stage a corpus runs before export
    * (emails, IPv4 addresses, phone-shaped numbers): per-doc match
    * counts plus the redacted text with typed placeholders. Pure
    * codegen'd regexp expressions, one pass per pattern, no shuffle;
    * redaction order (email → ip → phone) is fixed so both engines
    * rewrite identically when patterns could overlap.
    */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, lit(EmailPattern), lit("<EMAIL>")),
          lit(Ipv4Pattern), lit("<IP>")),
        lit(PhonePattern), lit("<PHONE>"))
    graft.core.Fan.out(docs).select(
      col(idCol).as("doc"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(t, lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      redacted.as("redacted_text"))
  }

  /** Standalone 16-digit runs: RE2 has no lookarounds (and the oracle
    * runs on RE2), so the boundary is a captured context group and the
    * number is group 2. Two candidates separated by a SINGLE non-digit
    * collide on the consumed boundary (the second is missed) —
    * acceptable for detection counts; redaction uses the bare run
    * pattern, which over-redacts inside longer digit runs (the safe
    * direction for a release gate).
    */
  val CcCandidatePattern = "(^|[^0-9])([0-9]{16})($|[^0-9])"
  val CcRunPattern = "[0-9]{16}"

  /** Credit-card detection with Luhn checksum validation — the PII
    * family member where a regex alone is not enough: any 16-digit run
    * is a CANDIDATE, but only checksum-valid numbers are actual card
    * numbers (ISO/IEC 7812 Luhn; doubling every second digit from the
    * right, subtract 9 above 9, total ≡ 0 mod 10). Output per doc:
    * candidate count, Luhn-valid count, and the over-redaction-safe
    * rewrite (every 16-digit window → `<CC>`). One codegen'd
    * projection — the Luhn fold is a fixed-16 HOF aggregate per
    * candidate, no UDF, no shuffle.
    */
  def ccDetect(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def luhnOk(c: Column): Column = {
      val total = aggregate(
        sequence(lit(1), lit(16)),
        lit(0),
        (acc, i) => {
          val dv = ascii(c.substr(i, lit(1))) - 48
          acc + when(i % 2 === 1,
            when(dv * 2 > 9, dv * 2 - 9).otherwise(dv * 2)).otherwise(dv)
        })
      total % 10 === 0
    }
    val cands = regexp_extract_all(t, lit(CcCandidatePattern), lit(2))
    graft.core.Fan.out(docs).select(
      col(idCol).as("doc"),
      size(cands).cast("long").as("n_cc_candidates"),
      size(filter(cands, c => luhnOk(c))).cast("long").as("n_cc_valid"),
      regexp_replace(t, lit(CcRunPattern), lit("<CC>")).as("redacted_text"))
  }

  /** Long-document chunking: split each document into consecutive
    * `maxTokens`-word pieces (the C4-style length normalizer — downstream
    * stages want bounded inputs, and a single 10M-token doc must not
    * become one task's row). One row per chunk: (doc, chunk_id 0-based,
    * n_chunks, chunk_tokens, chunk_text). Word-boundary exact: chunk i
    * holds words [i·maxTokens, (i+1)·maxTokens); short docs pass
    * through as their own single chunk.
    *
    * Scale shape: a narrow explode — fan-out is ceil(words/maxTokens)
    * per doc, no shuffle, no state; the words array materializes once
    * per row and `slice` reads it per chunk (bounded by the fan-out,
    * never quadratic in doc length for fixed maxTokens ratio).
    */
  def chunkDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int
  ): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val ws = TextOps.words(col(textCol))
    val nChunks = greatest(ceil(size(ws).cast("double") / maxTokens).cast("long"), lit(1L))
    graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), ws.as("ws"), nChunks.as("n_chunks"))
      .select(col("doc"), col("n_chunks"), col("ws"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc"),
        col("chunk_id"),
        col("n_chunks"),
        size(slice(col("ws"), (col("chunk_id") * maxTokens + 1).cast("int"), lit(maxTokens)))
          .cast("long").as("chunk_tokens"),
        array_join(
          slice(col("ws"), (col("chunk_id") * maxTokens + 1).cast("int"), lit(maxTokens)),
          " ").as("chunk_text"))
  }

  /** Language-ID accuracy audit: the confusion matrix of [[langId]]'s
    * prediction against a trusted label column — the validation report a
    * pipeline runs before trusting a classifier to slice a corpus.
    * The prediction is a pure per-row expression, so it is projected
    * INLINE next to the true label — one corpus scan, zero joins — and
    * the only shuffle is the (true, predicted) count aggregate with
    * map-side partial combine. (The r5 version self-joined the corpus
    * on the doc id to reuse [[langId]]: two scans plus a doc-keyed
    * shuffle for a per-row expression — the textbook avoidable join.)
    */
  def langConfusion(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String
  ): DataFrame = {
    val ws = TextOps.words(col(textCol))
    graft.core.Fan.out(docs).select(
      (col(labelCol).as("true_lang") +:
        LangMarkers.map { case (lang, ms) => markerCount(ws, ms).as(s"s_$lang") }): _*)
      .select(col("true_lang"), argmaxLang.as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-group length-outlier trimming — the tail-cut curation rule
    * (truncated/garbled docs sit in the length tails; a global cutoff is
    * wrong when groups have different length regimes, so the percentile
    * is per group). Drops each group's shortest `loPermille`/1000 and
    * longest `hiPermille`/1000 fraction of documents, by rank — integer
    * arithmetic only (`n*lo DIV 1000` bounds, rank ties broken by id),
    * so both engines cut at exactly the same rows.
    *
    * Shape: one shuffle keyed by the group + an in-partition sort for
    * the rank window (rank-based trimming is order-statistics — a sort
    * per group is the honest cost; groups are corpus slices, so
    * per-group data is 1/slices of the corpus, and the window needs no
    * full-table sort).
    */
  def trimLengthOutliers(
      docs: DataFrame,
      groupCol: String,
      lenCol: String,
      idCol: String,
      loPermille: Int,
      hiPermille: Int
  ): DataFrame = {
    require(loPermille >= 0 && hiPermille >= 0 && loPermille + hiPermille < 1000,
      s"trim fractions must be non-negative and sum below 1000 per-mille, got $loPermille/$hiPermille")
    val w = Window.partitionBy(col(groupCol))
    val rk = row_number().over(w.orderBy(col(lenCol), col(idCol)))
    docs
      .withColumn("len_rank", rk)
      .withColumn("grp_n", count(lit(1)).over(w))
      .filter(
        col("len_rank") > expr(s"(grp_n * $loPermille) DIV 1000") &&
          col("len_rank") <= col("grp_n") - expr(s"(grp_n * $hiPermille) DIV 1000"))
      .drop("len_rank", "grp_n")
  }

  /** Gopher duplicate-line repetition metrics (Rae et al. 2021, A1.1 —
    * the other half of the repetition gate next to [[repetition]]'s
    * word ratios): per-doc duplicate-line fraction (excess repeats over
    * distinct lines) and the fraction of line characters living in
    * duplicated lines — boilerplate headers/footers repeat whole lines,
    * which word-level ratios under-detect.
    *
    * Scale shape: same as [[repetition]] — explode → (doc, line) count
    * → per-doc aggregate, both map-side combined; no per-doc O(n²)
    * lambda. `pass`-style guards: n_lines ≥ 1 always (split of "" is
    * [""]); all-empty-line docs get a NULL char fraction instead of
    * 0/0.
    */
  def lineRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lc = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(split(col(textCol), "\n")).as("l"))
      .groupBy(col("doc"), col("l")).agg(count(lit(1)).as("c"))
    lc.groupBy(col("doc"))
      .agg(
        sum(col("c")).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(col("c") * length(col("l"))).as("line_chars"),
        sum(when(col("c") > 1L, col("c") * length(col("l"))).otherwise(lit(0L)))
          .as("dup_chars"))
      .select(
        col("doc"),
        col("n_lines"),
        col("n_distinct_lines"),
        round((col("n_lines") - col("n_distinct_lines")).cast("double") / col("n_lines"), 6)
          .as("dup_line_frac"),
        when(col("line_chars") > 0,
          round(col("dup_chars").cast("double") / col("line_chars"), 6))
          .as("dup_line_char_frac"))
  }

  /** Top-k term collocations by document-level pointwise mutual
    * information — the WIMBD-style corpus-association audit (which
    * word pairs co-occur far above chance: named entities, templated
    * boilerplate, topic markers):
    * `pmi(a,b) = ln(N · c(a,b) / (c(a) · c(b)))` over PRESENCE counts
    * (a doc contributes once per pair regardless of tf — Church &
    * Hanks 1990's document-window variant).
    *
    * Exactness: every count is an integer; the single ln of their
    * rational lands once per OUTPUT pair and is rounded to 6 decimals
    * into DECIMAL(18,6) BEFORE ranking, so order never depends on
    * sub-ulp doubles; ties break (term_a, term_b).
    *
    * Scale shape: one (doc, term) distinct exchange with map-side
    * combine feeds BOTH the pair self-join and the df table (checkpoint
    * barrier, one tokenize). The pair space is Σ_doc t² where t is the
    * doc's distinct CAPPED vocabulary — `maxDfFrac` drops hub terms
    * first (stopword-class df makes pairs quadratic in corpus size;
    * the same skew cap as the capped Jaccard join, fractional so the
    * knob survives corpus growth), and `minPairDocs` prunes the long
    * tail before ranking. df joins back on `term` with no broadcast
    * hint (web vocabularies are unbounded); the global top-k resolves
    * via TakeOrderedAndProject on the quantized score.
    */
  def pmiPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDfFrac: Double,
      minPairDocs: Long,
      k: Int
  ): DataFrame = {
    require(maxDfFrac > 0 && minPairDocs > 0 && k > 0,
      s"maxDfFrac, minPairDocs, k must be positive, got $maxDfFrac, $minPairDocs, $k")
    val present = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(TextOps.words(col(textCol))).as("term"))
      .distinct()
      .localCheckpoint(false) // feeds df AND both sides of the pair join
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val df = present.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df").cast("double") <= col("n_docs").cast("double") * maxDfFrac)
      .drop("n_docs")
    val kept = present.join(df, "term") // vocab-keyed, no broadcast hint
    val pairs = kept.select(col("doc"), col("term").as("term_a"), col("df").as("df_a"))
      .join(kept.select(col("doc"), col("term").as("term_b"), col("df").as("df_b")), "doc")
      .filter(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("pair_docs"))
      .filter(col("pair_docs") >= minPairDocs)
    pairs
      .crossJoin(broadcast(n))
      .withColumn("pmi_d",
        round(log(
          col("n_docs").cast("double") * col("pair_docs").cast("double") /
            (col("df_a").cast("double") * col("df_b").cast("double"))), 6)
          .cast("decimal(18,6)"))
      .orderBy(col("pmi_d").desc, col("term_a"), col("term_b"))
      .limit(k)
      .select(col("term_a"), col("term_b"), col("pair_docs"),
        col("df_a"), col("df_b"), col("pmi_d").cast("double").as("pmi"))
  }

  /** Feature-hashed bag-of-words document vectors (Weinberger et al.
    * 2009's hashing trick): component j sums s(t)·tf(t) over terms with
    * strhash(t) mod dims = j, sign s(t) = ±1 from a second hash — the
    * deterministic, model-free text→vector bridge that lets the TEXT
    * modality ride every [[Similarity]] operator (the [[Multimodal]]
    * imageVectors/audioVectors pattern, completing the modality
    * triangle). Components are INTEGER sums cast to double at the end,
    * so the DuckDB oracle replays vectors bit-for-bit via the strhash
    * replica.
    *
    * Scale shape: one text-bearing explode into the (doc, term)
    * exchange with map-side combine, one (doc, bucket) aggregate, then
    * a per-doc map assembly — never a dims-wide crossJoin of the
    * corpus. Docs whose every component hashes to zero sum are kept
    * (the zero vector) and dropped later by semanticDedup's nrm > 0
    * guard, same as an all-silent audio clip.
    */
  def hashedVectors(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int
  ): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val sign = when(
      pmod(graft.functions.GraftFunctions.strhash(concat(lit("s"), col("term"))), lit(2L)) === 0,
      lit(1L)).otherwise(lit(-1L))
    graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(TextOps.words(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc"),
        pmod(graft.functions.GraftFunctions.strhash(col("term")), lit(dims.toLong)).as("j"),
        (sign * col("tf")).as("sv"))
      .groupBy(col("doc"), col("j"))
      .agg(sum(col("sv")).as("f"))
      .groupBy(col("doc"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("f")))).as("m"))
      .select(col("doc").as("vec_id"),
        transform(sequence(lit(0L), lit(dims - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")).as("v"))
  }

  /** Text near-duplicate pruning through the embedding path:
    * [[hashedVectors]] → [[Similarity.semanticDedup]] — the SemDeDup
    * recipe with the hashing trick standing in for a learned encoder,
    * mirroring Multimodal.imageSemanticDedup / audioSemanticDedup.
    */
  def textSemanticDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCosine: Double,
      numCentroids: Int,
      dims: Int = 32
  ): DataFrame =
    Similarity.semanticDedup(
      hashedVectors(docs, idCol, textCol, dims), "vec_id", "v",
      minCosine, numCentroids)

  /** ROUGE-N overlap (Lin 2004, "ROUGE: A Package for Automatic
    * Evaluation of Summaries") between a candidate and a reference
    * text column — the generation-eval metric next to
    * [[graft.llm.Classify.evalMetrics]] (classification) and
    * [[graft.llm.Relevance.rankingMetrics]] (retrieval): per row, the
    * CLIPPED n-gram overlap `Σ_g min(cnt_cand(g), cnt_ref(g))` with
    * recall = overlap / ref-grams (the canonical ROUGE), precision =
    * overlap / cand-grams, and F1 in its single-division form
    * `2·o / (c + r)`.
    *
    * Exactness: n-gram counts are exact longs from one tokenize per
    * side; each metric is ONE IEEE division of integers, never
    * rounded; a side with fewer than `n` tokens has zero grams and
    * NULL metrics (the Profile.drift degenerate-snapshot rule).
    *
    * Scale shape: both sides explode to (id, gram-hash) counts with
    * map-side combine, the overlap is a keyed
    * `(id, strhash(gram), length(gram))` join — no broadcast hint:
    * candidate sets are corpus-sized — and one per-id aggregate. The
    * gram TEXT never rides an exchange (the lineDedup hashed-line
    * discipline): grams are hashed map-side below the count
    * aggregate, so shuffle rows are fixed-width longs regardless of
    * n or token length. The (strhash, length) witness is a ~30-bit
    * modulus hash (polynomial mod 1e9+7, [[graft.functions.StrHash]]),
    * so distinct grams within ONE document's gram set can merge with
    * birthday probability ~g²/2e9 per length class (g = grams of that
    * length in the doc) — e.g. ~5e-4 at g = 1000 — slightly inflating
    * the clipped overlap on very long documents. The DuckDB oracle
    * replays the identical hashed grouping, so cross-engine equality
    * is unconditional even when that approximation bites; callers who
    * need exact ROUGE on book-length inputs should bound the input via
    * `maxTokens` (below), which also bounds g.
    */
  def rougeN(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      n: Int,
      maxTokens: Int = 0
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxTokens >= 0, s"maxTokens must be >= 0 (0 = uncapped), got $maxTokens")
    def grams(c: Column): Column = {
      val w0 = TextOps.words(c)
      // maxTokens > 0 clips BOTH sides to their first maxTokens tokens
      // before gram extraction — the standard summarization-eval
      // operating point (ROUGE over a lead window), and the bounded
      // knob for corpus-scale runs: per-doc gram work becomes O(cap)
      // instead of O(doc length). 0 (default) = canonical full-text
      // ROUGE, bit-identical to the pre-cap operator.
      val w = if (maxTokens > 0) slice(w0, 1, maxTokens) else w0
      when(size(w) < n, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), size(w) - n),
          i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o + 1)): _*)))
    }
    // one tokenize per side, materialized so the lambda never re-inlines
    // (CollapseProject hazard) and both count legs share it
    val base = graft.core.Fan.out(pairs).select(col(idCol).as("id"),
        grams(col(candCol)).as("cg"), grams(col(refCol)).as("rg"))
      .localCheckpoint(false)
    def counts(side: Column, name: String): DataFrame =
      base.select(col("id"), explode(side).as("gram"))
        .select(col("id"),
          graft.functions.GraftFunctions.strhash(col("gram")).as("gh"),
          length(col("gram")).as("gl"))
        .groupBy(col("id"), col("gh"), col("gl"))
        .agg(count(lit(1)).as(name))
    val joined = counts(col("cg"), "c_cnt")
      .join(counts(col("rg"), "r_cnt"), Seq("id", "gh", "gl"), "full")
      .groupBy(col("id"))
      .agg(
        sum(least(coalesce(col("c_cnt"), lit(0L)), coalesce(col("r_cnt"), lit(0L))))
          .as("overlap"),
        sum(coalesce(col("c_cnt"), lit(0L))).as("cand_grams"),
        sum(coalesce(col("r_cnt"), lit(0L))).as("ref_grams"))
    // ids whose BOTH sides are too short never reach the join — spine
    // them back so every input row reports (with zero grams)
    base.select(col("id"))
      .join(joined, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        coalesce(col("cand_grams"), lit(0L)).as("cand_grams"),
        coalesce(col("ref_grams"), lit(0L)).as("ref_grams"))
      .withColumn("precision",
        when(col("cand_grams") > 0,
          col("overlap").cast("double") / col("cand_grams").cast("double")))
      .withColumn("recall",
        when(col("ref_grams") > 0,
          col("overlap").cast("double") / col("ref_grams").cast("double")))
      .withColumn("f1",
        when(col("cand_grams") + col("ref_grams") > 0,
          (col("overlap") * 2L).cast("double") /
            (col("cand_grams") + col("ref_grams")).cast("double")))
  }

  /** Rolling-hash document fingerprint (TextOps.fingerprint) plus summary
    * stats — the join key for cross-corpus contamination checks.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc"),
      TextOps.fingerprint(col(textCol)).as("fp")
    ).select(
      col("doc"),
      size(col("fp")).as("n_fp"),
      coalesce(try_element_at(col("fp"), lit(1)), lit(-1L)).as("fp_min"),
      coalesce(try_element_at(col("fp"), lit(-1)), lit(-1L)).as("fp_max")
    )
}
