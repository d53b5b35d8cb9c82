package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Byte-pair-encoding merge learning — tokenizer-vocabulary induction,
  * the step a training-data pipeline runs BEFORE token counting and
  * sequence packing mean anything (reference scope: the pipeline's
  * `tokenize` stages assume a trained vocab; this learns one).
  *
  * Classic Sennrich BPE on word-frequency statistics: words split into
  * character symbols; each iteration counts adjacent symbol pairs
  * (weighted by word frequency, overlapping positions counted), merges
  * the most frequent pair everywhere (greedy left-to-right,
  * non-overlapping within a word), and repeats. Ties break by
  * (count desc, left, right) — fully deterministic.
  *
  * Cross-engine exactness: a word's symbol sequence is encoded as a
  * DOUBLE-spaced string (`"  a  b  c  "`). Merging pair (l, r) is then
  * `replace(sp, " l  r ", " lr ")` — plain string replace scans
  * left-to-right and continues AFTER each replacement in both engines,
  * which on this encoding is exactly the greedy non-overlapping pair
  * merge (the single boundary spaces around the pattern can't be
  * reused by an overlapping match, and the replacement restores the
  * double-space invariant). The DuckDB oracle replays every iteration
  * with the same replace, so the learned merge table hash-matches.
  *
  * Scale shape: the corpus is touched ONCE (word explode + count); all
  * iterations run on the distinct-word table — orders of magnitude
  * smaller, still distributed (a web corpus has billions of distinct
  * words). Each iteration is one pair-explode aggregate with map-side
  * combine and a TakeOrdered(1) — no sort, no collect of data; only
  * the single winning pair (the model) reaches the driver, exactly
  * like [[Similarity.lshTopKLearned]]'s plane sample. The merged word
  * table is localCheckpoint'ed per round so plan depth stays constant.
  */
object Bpe {

  /** One learned merge: step (1-based), the pair, and its weighted
    * adjacency count at the time of the merge.
    */
  final case class Merge(step: Long, left: String, right: String, pairCount: Long)

  /** Double-spaced character-symbol encoding of a word. */
  private def spacedChars(w: Column): Column =
    concat(lit("  "),
      array_join(transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1))), "  "),
      lit("  "))

  /** Literal (non-regex) replace — the catalyst StringReplace
    * expression: left-to-right, non-overlapping, scan continues after
    * each replacement. EXACTLY DuckDB's `replace`, which is what the
    * oracle replays; also codegen'd with no regex machinery on the
    * per-word hot path.
    */
  private def replaceLit(src: Column, search: String, repl: String): Column = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, StringReplace}
    Bridge.column(StringReplace(Bridge.expression(src), Literal(search), Literal(repl)))
  }

  /** Adjacent symbol pairs of a spaced encoding, as (l, r) structs;
    * empty for single-symbol words (guarded — `sequence` would count
    * backwards on a negative range).
    */
  private def adjacentPairs(sp: Column): Column = {
    val syms = filter(split(sp, " "), x => x =!= "")
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), j =>
        struct(element_at(syms, j).as("l"), element_at(syms, j + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** Learn `nMerges` BPE merges from the corpus. Returns the merge
    * table (step, left, right, pair_count) — the model artifact; stops
    * early if no adjacent pair remains.
    *
    * Structural bound: BPE learning is inherently sequential — step k's
    * pair statistics depend on step k-1's merge — so this runs ONE
    * Spark job (pair-count aggregate + TakeOrdered(1)) per merge step,
    * each over the distinct-word table only. At a production 32k-merge
    * vocabulary that is 32k short driver-coordinated jobs: acceptable
    * for a rare offline induction run, but not a per-pipeline-run
    * operator. APPLYING a trained vocabulary has no such bound — see
    * [[tokenCount]]'s large-vocabulary path.
    */
  def learnMerges(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      nMerges: Int
  ): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val wordFreq = graft.core.Fan.out(docs)
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val cur0 = wordFreq
      .select(col("freq"), spacedChars(col("w")).as("sp"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    graft.core.Rounds.run("learnMerges", cur0, nMerges) { (cur, step) =>
      val top = cur
        .select(col("freq"), explode(adjacentPairs(col("sp"))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) (cur, true)
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(step.toLong, l, r, cnt)
        (graft.core.Rounds.checkpoint(
          cur.withColumn("sp", replaceLit(col("sp"), s" $l  $r ", s" $l$r "))), false)
      }
    }
    val schema = StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    val rows: java.util.List[Row] =
      java.util.Arrays.asList(merges.toSeq.map(m => Row(m.step, m.left, m.right, m.pairCount)): _*)
    spark.createDataFrame(rows, schema)
  }

  /** Segment words with a learned merge table: replay the merges in
    * order over the spaced encoding and count surviving symbols — the
    * trained-tokenizer token count per document.
    *
    * The merge chain runs per DISTINCT word (the vocabulary), not per
    * word occurrence: per-(doc, word) counts aggregate first (map-side
    * combine), the vocabulary segments once, and a word-keyed join
    * carries the symbol count back — at web scale that is billions of
    * occurrences saved per merge step. No broadcast hint on the vocab
    * join (vocabularies are unbounded; AQE broadcasts small ones).
    *
    * Two apply paths, selected by `expressionPathMaxMerges`:
    *  - small vocabularies fold the merges into a chain of codegen'd
    *    `StringReplace` expressions (oracle-replayable, zero JVM
    *    closures on the hot path);
    *  - beyond the threshold — a production tokenizer has 32k–100k
    *    merges, and a 32k-deep expression tree blows analysis/codegen
    *    long before data volume matters — the vocabulary segments via
    *    a `mapPartitions` greedy merger ([[applyMerges]]) whose cost
    *    per word is O(len² · log merges) INDEPENDENT of vocabulary
    *    size, with the merge table broadcast once per executor.
    * BpeSpec pins the two paths equal (and both equal a driver-side
    * literal-replace replay) on 500+-merge vocabularies.
    */
  def tokenCount(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      expressionPathMaxMerges: Int = 100
  ): DataFrame = {
    val tf = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), explode(TextOps.words(col(textCol))).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("tf"))
    val words = tf.select(col("w")).distinct()
    val vocab =
      if (merges.size <= expressionPathMaxMerges) {
        val perWord = merges.foldLeft(spacedChars(col("w"))) { case (sp, (l, r)) =>
          replaceLit(sp, s" $l  $r ", s" $l$r ")
        }
        words.withColumn("n", size(filter(split(perWord, " "), x => x =!= "")).cast("long"))
      } else segmentedVocab(words, merges)
    tf.join(vocab, "w")
      .groupBy(col("doc"))
      .agg(sum(col("tf") * col("n")).as("bpe_tokens"))
  }

  /** Tokenize documents with a learned merge table — the actual token
    * SEQUENCE, not just the count: what sequence packing / training
    * export consumes. Output one row per token: (doc, pos, token),
    * `pos` the 1-based position in the document's token stream (words
    * in document order, merged symbols in word order).
    *
    * Same vocabulary economy and dual apply paths as [[tokenCount]]:
    * distinct words segment once (expression chain below
    * `expressionPathMaxMerges`, the [[applyMerges]] greedy merger
    * beyond), and a word-keyed join fans the symbol arrays back onto
    * word occurrences; the per-doc stream re-assembles with a
    * doc-partitioned rank over (word position, symbol position).
    */
  def tokenize(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      expressionPathMaxMerges: Int = 100
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = graft.core.Fan.out(docs)
      .select(col(idCol).as("doc"), posexplode(TextOps.words(col(textCol))).as(Seq("wp", "w")))
    val words = occ.select(col("w")).distinct()
    val vocab =
      if (merges.size <= expressionPathMaxMerges) {
        val perWord = merges.foldLeft(spacedChars(col("w"))) { case (sp, (l, r)) =>
          replaceLit(sp, s" $l  $r ", s" $l$r ")
        }
        words.withColumn("syms", filter(split(perWord, " "), x => x =!= ""))
      } else segmentedVocabSyms(words, merges)
    val w = Window.partitionBy(col("doc")).orderBy(col("wp"), col("sp"))
    occ.join(vocab, "w")
      .select(col("doc"), col("wp"), posexplode(col("syms")).as(Seq("sp", "token")))
      .select(col("doc"), row_number().over(w).cast("long").as("pos"), col("token"))
  }

  /** A word as code-point symbols — the same unit Spark's `substring`
    * (and the spaced encoding) counts by.
    */
  private[graft] def codePointSymbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Greedy merge replay over a symbol array, EXACTLY equivalent to
    * folding the merge list into sequential literal replaces on the
    * double-spaced encoding, but O(len² · log merges) per word instead
    * of O(merges · len):
    *
    * sequential replace applies step k's merge to the word state after
    * steps 1..k-1 and never revisits earlier steps, so it is the same
    * as repeatedly taking the SMALLEST step greater than the last
    * applied one among the pairs currently adjacent in the word (steps
    * between are no-ops — their pairs are absent — and a merge can
    * never create its own pair, `l+r ≠ l, l+r ≠ r`, nor resurrect an
    * already-passed step's effect, because passed steps are filtered by
    * the `> lastApplied` bound). Each merge within a step is the
    * left-to-right non-overlapping scan that literal replace performs
    * (the scan continues AFTER each replacement; the double-space
    * encoding makes boundary reuse impossible — see class scaladoc).
    *
    * The same pair can legitimately recur at several steps (a later
    * merge can recreate an earlier pair's adjacency, which the learner
    * may then pick again), so the lookup keeps ALL steps per pair in
    * ascending order and binary-searches the first one past the bound.
    */
  private[graft] def applyMerges(
      symbols: Array[String],
      merges: IndexedSeq[(String, String)],
      stepsOf: Map[(String, String), Array[Int]]
  ): Array[String] = {
    // First step of `pair` strictly greater than `bound`, or MaxValue.
    def firstStepAfter(pair: (String, String), bound: Int): Int =
      stepsOf.get(pair) match {
        case None => Int.MaxValue
        case Some(steps) =>
          var lo = 0; var hi = steps.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (steps(mid) > bound) hi = mid else lo = mid + 1
          }
          if (lo < steps.length) steps(lo) else Int.MaxValue
      }
    var cur = symbols
    var lastApplied = 0
    var done = false
    while (!done && cur.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i < cur.length - 1) {
        val s = firstStepAfter((cur(i), cur(i + 1)), lastApplied)
        if (s < best) best = s
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = merges(best - 1)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < cur.length) {
          if (j < cur.length - 1 && cur(j) == l && cur(j + 1) == r) { out += l + r; j += 2 }
          else { out += cur(j); j += 1 }
        }
        cur = out.result()
        lastApplied = best
      }
    }
    cur
  }

  /** Ascending step list per pair (1-based, duplicates kept). */
  private[graft] def stepIndex(merges: Seq[(String, String)]): Map[(String, String), Array[Int]] =
    merges.iterator.zipWithIndex
      .map { case (p, i) => (p, i + 1) }.toSeq
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sorted.toArray) }

  /** The large-vocabulary apply path: segment each distinct word with
    * [[applyMerges]] inside `mapPartitions` — merge table broadcast
    * once per executor, no expression tree, no driver involvement.
    */
  private def segmentedVocab(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast((merges.toIndexedSeq, stepIndex(merges)))
    val outSchema = StructType(Seq(
      StructField("w", StringType, nullable = true),
      StructField("n", LongType, nullable = false)))
    words.mapPartitions { it =>
      val (ms, steps) = bc.value
      it.map { row =>
        val w = row.getString(0)
        Row(w, applyMerges(codePointSymbols(w), ms, steps).length.toLong)
      }
    }(Encoders.row(outSchema))
  }

  /** [[segmentedVocab]] keeping the symbol arrays (for [[tokenize]]). */
  private def segmentedVocabSyms(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast((merges.toIndexedSeq, stepIndex(merges)))
    val outSchema = StructType(Seq(
      StructField("w", StringType, nullable = true),
      StructField("syms", ArrayType(StringType, containsNull = false), nullable = false)))
    words.mapPartitions { it =>
      val (ms, steps) = bc.value
      it.map { row =>
        val w = row.getString(0)
        Row(w, applyMerges(codePointSymbols(w), ms, steps).toSeq)
      }
    }(Encoders.row(outSchema))
  }
}
