package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, StrHash}
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis, TextOps}

/** Semantic tests for the LLM-data-pipeline operators. */
class LlmSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines and data"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("strhash: reference value, empty string, codegen = interpreted") {
    // hand-computed fold of "ab": ((0*31+97)%P)*31+98 = 3105
    assert(StrHash.hash(org.apache.spark.unsafe.types.UTF8String.fromString("ab")) == 3105L)
    assert(StrHash.hash(org.apache.spark.unsafe.types.UTF8String.fromString("")) == 0L)
    val out = docs.select(GraftFunctions.strhash(col("text")).as("h")).as[Long].collect()
    assert(out.length == 5 && out.toSet.size == 4) // docs 1 and 4 collide (identical text)
  }

  test("custom functions registered for SQL via GraftFunctions.register") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_strhash('ab') AS h").as[Long].head() == 3105L)
    assert(spark.sql("SELECT graft_vecdot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head() == 11.0)
    assert(spark.sql("SELECT size(graft_shingle_hashes('a b c d', 3)) AS n")
      .as[Int].head() == 2)
    assert(spark.sql("SELECT graft_simhash(graft_bigram_hashes('a b c')) AS s")
      .as[Long].head() >= 0L)
    assert(spark.sql("SELECT size(graft_rolling_fp('abcdefghij', 8, 1)) AS n")
      .as[Int].head() == 3) // 3 distinct 8-grams, mod 1 keeps all
    assert(spark.sql("SELECT size(graft_winnow('abcdefghij', 8, 4)) AS n")
      .as[Int].head() == 1) // 3 grams < window 4 -> the one overall min
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d(1L) == 2L) // canonical 1 has copies {1,4}
    assert(d.values.sum == 5L)
  }

  test("minhash LSH finds the exact-dup and near-dup pairs, not the distinct doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → est jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("connected components: chains merge transitively, singletons keep own label") {
    // graph: 1-2, 2-3 (one cluster via transitivity), 10-11, 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val cc = graft.operators.Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // dedup follow-through: one keeper per component
    assert(cc.groupBy(_._2).keySet == Set(1L, 10L, 20L))
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, distinct absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs hamming 0; blocked pairs == unblocked pairs") {
    val sh = Dedup.simhashDocs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    val blocked = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // reference: all-pairs hamming
    val all = for {
      (a, ha) <- sh.toSeq; (b, hb) <- sh.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)
    assert(blocked == all.toSet)
    assert(blocked.contains((1L, 4L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite of 0
    (100L, Array(2.0f, 0.0f, 0.0f, 0.0f)) // same direction as 0 → same LSH bucket
  ).toDF("vec_id", "embedding")

  test("embedding near-dup pairs at cosine >= 0.9") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 100L), (1L, 100L)))
  }

  test("brute-force topK ranks by cosine desc, excludes self") {
    val top = Similarity.bruteTopK(vecs, "vec_id", "embedding", col("vid") === 0L, k = 3)
      .orderBy("rank").select("nid").as[Long].collect().toList
    assert(top == List(100L, 1L, 2L)) // cos: 1.0, .994, 0 — then -1 excluded by k
  }

  test("lsh topK finds same-bucket neighbors ranked by exact cosine") {
    val top = Similarity.lshTopK(vecs, "vec_id", "embedding", col("vid") === 0L, k = 5, dims = 4)
      .select("nid", "rank").as[(Long, Int)].collect().toMap
    // vec 100 is colinear with the query → identical sign bits → same
    // bucket, and exact-cosine rank 1 within it.
    assert(top.get(100L).contains(1))
  }

  test("language id picks the marker-dominant language, und on no markers") {
    val d = Seq(
      (1L, "the cat is on the mat and a dog"),
      (2L, "der hund ist und das haus"),
      (3L, "le chat et la maison les arbres"),
      (4L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d, "doc_id", "text")
      .select("doc", "pred_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("token counts: ws vs bpe-ish tokenization") {
    val d = Seq((1L, "hello world 42 a-b!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d, "doc_id", "text").head()
    assert(r.getAs[Int]("ws_tokens") == 4)
    // hello, world, 42, a, -, b, ! => 7
    assert(r.getAs[Int]("bpe_tokens") == 7)
  }

  test("fingerprints are deterministic and identical for identical docs") {
    val fp = TextAnalysis.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(5L)._1 >= 0)
  }

  test("qualityRules: each Gopher rule flags its constructed violator") {
    import spark.implicits._
    val good = (1 to 10).map(i => s"the quick fox$i and lazy dog$i ran to it").mkString(" ")
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val trails = Seq("the first line trails off...",
      "and the second one does too...", "but not this one").mkString("\n")
    val docs = Seq(
      (1L, good),                                        // all rules pass
      (2L, "too short of a doc"),                        // n_words < 20
      (3L, ("a " * 40).trim),                            // mean word len 1 < 2
      (4L, (1 to 30).map(i => s"word$i blob$i").mkString(" ")), // 0 stopword hits
      (5L, ("the cat " * 30).trim),                      // top bigram dominates
      (6L, good + " " + ("# " * 12).trim),               // symbol-to-word ratio > 0.1
      (7L, bullets),                                     // > 90% bullet lines
      (8L, trails),                                      // > 30% ellipsis lines
      (9L, good + " " + (1 to 99).mkString(" ")),        // alpha-word fraction < 0.8
      (10L, ""),                                         // degenerate: zero words
      (11L, "word")                                      // degenerate: one word
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.qualityRules(docs, "doc_id", "text").orderBy("doc").collect()
    val pass = rows.map(r => r.getLong(0) -> r.getAs[Boolean]("pass")).toMap
    assert(pass == (1L to 11L).map(d => d -> (d == 1L)).toMap, s"got $pass")
    val byDoc = rows.map(r => r.getLong(0) -> r).toMap
    assert(byDoc(6L).getAs[Double]("symbol_word_ratio") > 0.1)
    assert(byDoc(7L).getAs[Double]("bullet_line_frac") > 0.9)
    assert(byDoc(8L).getAs[Double]("ellipsis_line_frac") > 0.3)
    assert(byDoc(9L).getAs[Double]("alpha_word_frac") < 0.8)
    // zero-word doc: ratio metrics are NULL (never NaN from 0/0), and
    // `pass` is a real false, not a three-valued leak
    assert(byDoc(10L).isNullAt(byDoc(10L).fieldIndex("mean_word_len")))
    assert(byDoc(10L).isNullAt(byDoc(10L).fieldIndex("alpha_word_frac")))
    // one-word doc: the whole-text bigram feature gives frac 1.0 — no
    // left-join NULL reaches `pass` even with minWords below 2
    assert(byDoc(11L).getAs[Double]("top_bigram_frac") == 1.0)
    val relaxed = TextAnalysis.qualityRules(docs, "doc_id", "text", minWords = 0L)
      .orderBy("doc").collect().map(r => r.getAs[Any]("pass"))
    assert(relaxed.forall(p => p == true || p == false), "pass must never be null")
  }

  test("lineRepetition: duplicate lines and their chars are counted exactly") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b\nc d\na b"), // "a b" twice: 1 excess repeat of 3 lines, 6 of 9 chars dup
      (2L, "x\ny\nz"),       // no duplicate lines
      (3L, "")               // one empty line: zero line chars -> NULL char fraction
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineRepetition(d, "doc_id", "text").orderBy("doc").collect()
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 2)
    assert(out(0).getDouble(3) == 0.333333 && out(0).getDouble(4) == 0.666667)
    assert(out(1).getDouble(3) == 0.0 && out(1).getDouble(4) == 0.0)
    assert(out(2).getLong(1) == 1 && out(2).isNullAt(4))
  }

  test("unimaxAllocation: caps bind, water level uniform, budget exactly spent") {
    import spark.implicits._
    val d = Seq(("s1", 10L), ("s2", 100L), ("s3", 200L), ("s4", 800L)).toDF("src", "toks")
    val out = graft.llm.Mixture.unimaxAllocation(d, "src", col("toks"),
        budgetTokens = 600L, maxEpochs = 2)
      .orderBy("grp").collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // caps 20/200/400/1600; waterfill 600: s1 saturates (2 epochs), the
    // rest share theta = (600-20)/3
    val theta = 580.0 / 3.0
    assert(out("s1") == ((20L, 20.0, 2.0)), s"got ${out("s1")}")
    Seq("s2", "s3", "s4").foreach { g =>
      assert(out(g)._2 == theta, s"$g must sit at the water level, got ${out(g)}")
    }
    assert(math.abs(out.values.map(_._2).sum - 600.0) < 1e-9, "budget must be exactly spent")
    // epoch cap respected everywhere
    assert(out.values.forall { case (cap, alloc, ep) => alloc <= cap && ep <= 2.0 })

    // budget above the total cap: every slice saturates, remainder unfilled
    val all = graft.llm.Mixture.unimaxAllocation(d, "src", col("toks"),
        budgetTokens = 10000L, maxEpochs = 2)
      .collect().map(r => (r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(all.forall { case (cap, alloc, ep) => alloc == cap.toDouble && ep == 2.0 })
  }

  test("normalizeText: casing/punct/whitespace collapse; near-copies merge") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),
      (3L, "HELLO... world\t"),
      (4L, "goodbye world")
    ).toDF("doc_id", "text")
    val norm = docs.select(graft.llm.Dedup.normalizeText(col("text")).as("n"))
      .as[String].collect().toSet
    assert(norm == Set("hello world", "goodbye world"))
    val groups = graft.llm.Dedup.exactNormalized(docs, "doc_id", "text")
      .select(col("canonical_id"), col("n_copies")).as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 3L, 4L -> 1L))
  }

  test("lineDedup: boilerplate lines drop everywhere, survivors keep order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "FOOTER\nalpha one\nbeta two"),
      (2L, "gamma three\nFOOTER\ndelta four"),
      (3L, "FOOTER\nepsilon five"),
      (4L, "FOOTER") // all lines boilerplate
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.lineDedup(docs, "doc_id", "text", maxDocFrequency = 2)
      .select(col("doc"), col("n_lines"), col("n_dropped"), col("text"))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 1L, "alpha one\nbeta two")))
    assert(out(2L) == ((2L, 3L, 1L, "gamma three\ndelta four")))
    assert(out(3L) == ((3L, 2L, 1L, "epsilon five")))
    assert(out(4L) == ((4L, 1L, 1L, "")), "a fully-boilerplate doc keeps an empty row")
  }

  test("removeDupSpans: corpus-repeated spans cut everywhere, words rejoin in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "see the quick brown fox run"),
      (3L, "tiny doc"), // < w words: no span to cut
      (4L, "x y z x y z x y z") // within-doc repeats alone cover everything
    ).toDF("doc_id", "text")
    def h(s: String): Long = {
      import org.apache.spark.sql.functions.lit
      docs.sparkSession.range(1)
        .select(graft.functions.GraftFunctions.strhash(lit(s))).as[Long].head()
    }
    val out = graft.llm.Dedup
      .removeDupSpans(docs, "doc_id", "text", w = 3, minRunWords = 1)
      .select(col("doc"), col("n_words"), col("n_removed"), col("clean_hash"))
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    // "the quick brown" and "quick brown fox" repeat across docs 1 and 2
    assert(out(1L) == ((1L, 5, 4, h("jumps"))))
    assert(out(2L) == ((2L, 6, 4, h("see run"))))
    assert(out(3L) == ((3L, 2, 0, h("tiny doc"))), "short docs pass through whole")
    assert(out(4L) == ((4L, 9, 9, 0L)), "a fully-excised doc hashes to strhash(\"\") = 0")
  }

  test("removeDupSpans: a short repeated phrase SURVIVES under the run threshold") {
    import spark.implicits._
    // the Lee et al. operating point: a common trigram repeated across
    // docs is NOT excised — only duplicated REGIONS >= minRunWords are
    val longDup = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val docs = Seq(
      (1L, s"intro one the quick fox closes here and then $longDup"),
      (2L, s"other text the quick fox appears again tail $longDup"),
      (3L, "unrelated words only here")
    ).toDF("doc_id", "text")
    def h(s: String): Long =
      docs.sparkSession.range(1)
        .select(graft.functions.GraftFunctions.strhash(lit(s))).as[Long].head()
    val out = graft.llm.Dedup
      .removeDupSpans(docs, "doc_id", "text", w = 3, minRunWords = 6)
      .select(col("doc"), col("n_words"), col("n_removed"), col("clean_hash"))
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    // "the quick fox" covers a 3-position run (< 6) in each doc — kept;
    // the 8-word passage covers an 8-position run (>= 6) — excised
    assert(out(1L) == ((1L, 17, 8, h("intro one the quick fox closes here and then"))))
    assert(out(2L) == ((2L, 16, 8, h("other text the quick fox appears again tail"))))
    assert(out(3L) == ((3L, 4, 0, h("unrelated words only here"))))
    // per-span excision at the same w cuts the phrase too
    val perSpan = graft.llm.Dedup
      .removeDupSpans(docs, "doc_id", "text", w = 3, minRunWords = 1)
      .select(col("doc"), col("n_removed")).as[(Long, Int)].collect().toMap
    assert(perSpan(1L) == 11 && perSpan(2L) == 11,
      "control: without the threshold the trigram run is cut as well")
  }

  test("materialize: full repeats exact, fractional draw in {0,1}, deterministic") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, if (i <= 20) "a" else "b"))
      .toDF("doc_id", "grp")
    val alloc = Seq(("a", 3.0), ("b", 0.5)).toDF("grp", "epochs")
    def run() = graft.llm.Mixture.materialize(docs, "grp", "doc_id", alloc)
      .select(col("doc_id"), col("rep")).as[(Long, Long)].collect().toList.sorted
    val got = run()
    val reps = got.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).sorted }
    // integer epochs: every slice-a doc appears exactly 1..3
    (1L to 20L).foreach(d => assert(reps(d) == List(1L, 2L, 3L), s"doc $d: ${reps.get(d)}"))
    // fractional epochs: slice-b docs appear 0 or 1 times, and roughly half
    val bReps = (21L to 40L).map(d => reps.get(d).map(_.size).getOrElse(0))
    assert(bReps.forall(n => n == 0 || n == 1))
    assert(bReps.sum > 3 && bReps.sum < 17, s"~half of slice b expected, got ${bReps.sum}")
    assert(got == run(), "the emitted multiset must be identical across runs")
  }

  test("chunkDocs: boundaries exact, chunks reassemble the token stream") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 75).map(i => s"w$i").mkString(" ")), // 3 chunks: 30/30/15
      (2L, "short doc"),                              // 1 chunk, passthrough
      (3L, (1 to 30).map(i => s"x$i").mkString(" "))  // exactly one full chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text", maxTokens = 30)
      .orderBy("doc", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(_._4).toSeq == Seq(30L, 30L, 15L))
    assert(byDoc(2L).map(_._4).toSeq == Seq(2L))
    assert(byDoc(3L).map(_._4).toSeq == Seq(30L))
    // reassembly: joining a doc's chunks in order reproduces its words
    byDoc.foreach { case (id, chunks) =>
      val original = docs.filter(col("doc_id") === id)
        .select("text").as[String].collect()(0)
      assert(chunks.sortBy(_._2).map(_._5).mkString(" ") == original, s"doc $id")
    }
  }

  test("repetition: top-word and type-token ratios on a constructed doc") {
    val d = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d, "doc_id", "text").head()
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Double]("distinct_ratio") == 0.5)
    assert(r.getAs[Double]("top_word_ratio") == 0.75)
  }

  test("contamination: identical doc scores 1.0, disjoint doc 0.0") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val c = Dedup.contamination(train, eval, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(c(1L) == 1.0, "verbatim leak must score full contamination")
    assert(c(2L) == 0.0, "disjoint doc must score zero")
  }

  test("quotaSample: exactly k per group, deterministic across runs") {
    val d = (1L to 200L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def run() = graft.operators.Shedding.quotaSample(spark, d, "source", "doc_id", 7)
      .select("source", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val a = run()
    assert(a.size == 28 && a.groupBy(_._1).forall(_._2.size == 7))
    assert(a == run(), "the draw must be reproducible")
  }

  test("weightedSample: exact k per group, weight-biased, deterministic") {
    // weights 1..200: the length-proportional draw must visibly favor
    // heavy rows over the uniform draw on the same ids
    val d = (1L to 200L).map(i => (i, s"src${i % 2}", i.toDouble)).toDF("doc_id", "source", "w")
    def run(w: org.apache.spark.sql.Column) =
      graft.operators.Shedding.weightedSample(spark, d, "source", "doc_id", w, k = 20)
        .select("source", "doc_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val weighted = run(col("w"))
    assert(weighted.size == 40 && weighted.groupBy(_._1).forall(_._2.size == 20))
    assert(weighted == run(col("w")), "the draw must be reproducible")
    val uniform = run(org.apache.spark.sql.functions.lit(1.0))
    assert(weighted != uniform, "weights must change the sample")
    def meanId(s: Set[(String, Long)]) = s.map(_._2).sum.toDouble / s.size
    assert(meanId(weighted) > meanId(uniform),
      s"weight∝id must pull the sample toward heavy ids " +
        s"(${meanId(weighted)} vs ${meanId(uniform)})")
    // es_key never leaks into the output
    assert(!graft.operators.Shedding.weightedSample(spark, d, "source", "doc_id", col("w"), 3)
      .columns.contains("es_key"))
  }

  test("lmCrossEntropy: reference-like docs score lower, unseen words back off") {
    import spark.implicits._
    val docs = Seq(
      (1L, true, "the cat sat on the mat"),
      (2L, true, "the dog sat on the rug"),
      (3L, false, "the cat sat on the mat"),        // ref-identical non-ref doc
      (4L, false, "zygote quasar bungee flux jolt"), // all unseen words
      (5L, false, "")                                // zero words: drops out
    ).toDF("doc_id", "is_ref", "text")
    val out = graft.llm.Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "zero-word docs drop out")
    val ce = out.view.mapValues(_._3).toMap
    assert(ce(1L) == ce(3L), "the score depends on text alone, not membership")
    assert(ce(4L) > ce(1L) && ce(4L) > ce(2L),
      s"off-distribution text must score higher cross-entropy: $ce")
    // unseen buckets back off to the add-one floor ln((T+B)/1) = the max
    // possible per-token cost; with every word unseen the doc's ce IS
    // that floor (up to the per-term quantization)
    val t = 12L // reference tokens: 2 docs x 6 words
    val floor = -math.log(1.0 / (t + (1 << 12)))
    assert(math.abs(ce(4L) - floor) < 1e-4, s"${ce(4L)} vs floor $floor")
  }

  test("lmCrossEntropyBigram: word order matters, interpolation backs off to unigram") {
    import spark.implicits._
    val docs = Seq(
      (1L, true, "a b a b a b a b"),  // strongly ordered reference
      (2L, true, "a b a b a b"),
      (3L, false, "a b a b"),          // in-order eval doc
      (4L, false, "b a b a"),          // same bag of words, reversed order
      (5L, false, "q r s t")           // all-unseen: pure add-one floor
    ).toDF("doc_id", "is_ref", "text")
    val bg = graft.llm.Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), order = 2, lambdas = Seq(0.7),
        numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    val ug = graft.llm.Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    // the unigram model cannot see order; the bigram model must
    assert(ug(3L) == ug(4L), "unigram CE is order-blind")
    assert(bg(3L) < bg(4L),
      s"in-order doc must score lower bigram CE: ${bg(3L)} vs ${bg(4L)}")
    // the interpolated model still separates on-distribution text from
    // noise. (No claim that bigram CE < unigram CE here: with B = 4096
    // and single-digit counts, add-one smoothing's c1+B denominator
    // washes out the conditioning advantage — on a toy corpus the
    // bigram term is a penalty, which is exactly why CCNet-scale
    // models train on a large reference slice.)
    assert(bg(5L) > bg(3L) && bg(5L) > bg(4L))
  }

  test("lmCrossEntropyTrigram: order-2 context separates what bigrams cannot") {
    import spark.implicits._
    // reference alternates the trigram contexts "a b -> c" and
    // "b c -> a": docs 3 and 4 have IDENTICAL bigram multisets
    // (their bigram sets match the reference equally) but differ in
    // trigram continuation
    val docs = Seq(
      (1L, true, "a b c a b c a b c a b c"),
      (2L, true, "a b c a b c a b c"),
      (3L, false, "a b c a b c"),  // reference-like trigrams
      (4L, false, "q r s t"),     // all-unseen: add-one floor
      (5L, false, "c b a c b a")  // reversed: wrong order everywhere
    ).toDF("doc_id", "is_ref", "text")
    val tg = graft.llm.Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"),
        order = 3, lambdas = Seq(0.5, 0.3), numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    assert(tg(3L) < tg(5L),
      s"in-order doc must score lower trigram CE: ${tg(3L)} vs ${tg(5L)}")
    assert(tg(4L) > tg(3L), "unseen text stays the worst-scored")
    // degenerate lengths survive the shifted-array zip: 1- and 2-token
    // docs score on the start-context history without error
    val short = Seq((1L, true, "a b c a b c"), (2L, false, "a"), (3L, false, "a b"))
      .toDF("doc_id", "is_ref", "text")
    val s = graft.llm.Selection.lmCrossEntropy(
        short, "doc_id", "text", col("is_ref"), order = 3, lambdas = Seq(0.5, 0.3),
        numBuckets = 1 << 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(s(2L) == 1L && s(3L) == 2L)
  }

  test("lmCrossEntropyKneserNey: beats add-one on held-out text; continuation counts rank novel contexts") {
    import spark.implicits._
    // reference with repeating bigram structure; held-out doc 3 reuses
    // the reference's bigrams verbatim
    val docs = Seq(
      (1L, true, "the cat sat on the mat"),
      (2L, true, "the cat sat on the rug"),
      (3L, false, "the cat sat on the mat"),
      (4L, false, "zygote quasar bungee flux") // all-unseen control
    ).toDF("doc_id", "is_ref", "text")
    val kn = graft.llm.Selection.lmCrossEntropyKneserNey(
        docs, "doc_id", "text", col("is_ref"), discount = 0.75, numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    val addOne = graft.llm.Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), order = 2, lambdas = Seq(0.7),
        numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    // absolute discounting keeps seen-bigram mass that add-one's c+B
    // denominator destroys: KN must score the held-out in-distribution
    // doc strictly lower than the add-one interpolation does
    assert(kn(3L) < addOne(3L),
      s"KN must beat add-one on held-out reference-like text: ${kn(3L)} vs ${addOne(3L)}")
    assert(kn(4L) > kn(3L), "unseen text still scores worst")
    // the continuation signature: 'cat' completes 4 distinct contexts,
    // 'francisco' only ever follows 'san' (with a larger raw count) —
    // after a NOVEL context, KN must prefer the many-context word
    val contDocs = Seq(
      (1L, true, "san francisco san francisco san francisco san francisco san francisco"),
      (2L, true, "the cat a cat my cat one cat"),
      (3L, false, "zzz cat"),
      (4L, false, "zzz francisco")
    ).toDF("doc_id", "is_ref", "text")
    val cont = graft.llm.Selection.lmCrossEntropyKneserNey(
        contDocs, "doc_id", "text", col("is_ref"), numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    assert(cont(3L) < cont(4L),
      s"novel context must prefer the many-context continuation: $cont")
    // degenerate lengths survive the shifted-array zip
    val s = graft.llm.Selection.lmCrossEntropyKneserNey(
        Seq((1L, true, "a b a b"), (2L, false, "a"), (3L, false, "")).toDF("doc_id", "is_ref", "text"),
        "doc_id", "text", col("is_ref"), numBuckets = 1 << 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(s(2L) == 1L && !s.contains(3L))
  }

  test("lmCrossEntropyKneserNeyTrigram: order-3 context wins where bigram KN cannot; guard trips") {
    import spark.implicits._
    // docs 3 and 5 have identical BIGRAM multisets against the ref but
    // differ in trigram continuation (the add-one order-3 case,
    // under KN smoothing)
    val docs = Seq(
      (1L, true, "a b c a b c a b c a b c"),
      (2L, true, "a b c a b c a b c"),
      (3L, false, "a b c a b c"),
      (4L, false, "q r s t"),
      (5L, false, "c b a c b a")
    ).toDF("doc_id", "is_ref", "text")
    val kn3 = graft.llm.Selection.lmCrossEntropyKneserNey(
        docs, "doc_id", "text", col("is_ref"), order = 3, numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    assert(kn3(3L) < kn3(5L), s"in-order trigrams must score lower: $kn3")
    assert(kn3(4L) > kn3(3L), "unseen text stays the worst-scored")
    // and KN3 beats the bigram KN on text the trigram order explains
    val kn2 = graft.llm.Selection.lmCrossEntropyKneserNey(
        docs, "doc_id", "text", col("is_ref"), numBuckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cross_entropy")).toMap
    assert(kn3(3L) < kn2(3L),
      s"order-3 KN must explain exact ref trigrams better: ${kn3(3L)} vs ${kn2(3L)}")
    // broadcast guard trips before any broadcast
    val err = intercept[IllegalArgumentException] {
      graft.llm.Selection.lmCrossEntropyKneserNey(
        docs, "doc_id", "text", col("is_ref"), order = 3, maxModelRows = 2L)
    }
    assert(err.getMessage.contains("numBuckets"), err.getMessage)
    // degenerate lengths survive the double-shifted zip
    val s = graft.llm.Selection.lmCrossEntropyKneserNey(
        Seq((1L, true, "a b c"), (2L, false, "a"), (3L, false, "a b")).toDF("doc_id", "is_ref", "text"),
        "doc_id", "text", col("is_ref"), order = 3, numBuckets = 1 << 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(s(2L) == 1L && s(3L) == 2L)
  }

  test("bradleyTerry: transitive dominance recovered, zero-win floor, mass ~1") {
    import spark.implicits._
    // A beats B 9:1, B beats C 9:1, A beats C 9:1; D loses everything
    def duels(w: String, l: String, wn: Int, ln: Int) =
      Seq.fill(wn)((w, l)) ++ Seq.fill(ln)((l, w))
    val m = (duels("A", "B", 9, 1) ++ duels("B", "C", 9, 1) ++
      duels("A", "C", 9, 1) ++ Seq.fill(5)(("A", "D")) ++ Seq.fill(5)(("C", "D")))
      .toDF("winner", "loser")
    val got = graft.llm.Preference.bradleyTerry(m, "winner", "loser", iters = 5)
      .collect().map(r => r.getAs[String]("item") ->
        ((r.getAs[Long]("wins"), r.getAs[Double]("rating")))).toMap
    assert(got("A")._2 > got("B")._2 && got("B")._2 > got("C")._2 &&
      got("C")._2 > got("D")._2, s"dominance order must hold: $got")
    assert(got("D")._1 == 0L, "D never wins")
    assert(got("D")._2 >= 1e-9, "zero-win items sit at the nano floor, not 0/NaN")
    val mass = got.values.map(_._2).sum
    assert(mass > 0.999 && mass < 1.001, s"ratings must normalize, got $mass")
    assert(got("A")._1 == 23L && got("B")._1 == 10L)
  }

  test("assignSplitLeakageSafe: clusters never straddle splits; dup-free ≡ per-doc split") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    // two chains: {1,2,3} and {10,11}; rest singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val splits = Seq("train" -> 800, "test" -> 200)
    val got = graft.llm.TextAnalysis.assignSplitLeakageSafe(
        docs, "doc_id", pairs, "doc_a", "doc_b", splits)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(got(1L) == got(2L) && got(2L) == got(3L),
      s"cluster {1,2,3} must share group AND split: ${got(1L)}, ${got(2L)}, ${got(3L)}")
    assert(got(10L) == got(11L))
    assert(got(1L)._1 == 1L && got(10L)._1 == 10L, "group = cluster minimum")
    // with no pairs at all, the assignment IS assignSplit on the id
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val lone = graft.llm.TextAnalysis.assignSplitLeakageSafe(
        docs, "doc_id", empty, "doc_a", "doc_b", splits)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val plain = graft.llm.TextAnalysis.assignSplit(docs, "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(lone == plain, "dup-free corpus must degrade to the per-doc split")
  }

  test("winRates: hand Wilson bound, small-sample penalty, all-loser row") {
    import spark.implicits._
    // X: 8/10 wins; Y: 2/2 wins (perfect but tiny); W: 0 wins
    val m = (Seq.fill(8)(("X", "Z")) ++ Seq.fill(2)(("Z", "X")) ++
      Seq.fill(2)(("Y", "Z")) ++ Seq.fill(3)(("X", "W")))
      .toDF("winner", "loser")
    val got = graft.llm.Preference.winRates(m, "winner", "loser")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // hand Wilson at z=1.96 for X's 11/13 overall (8 vs Z + 3 vs W, 2 losses)
    val (z, n, p) = (1.96, 13.0, 11.0 / 13.0)
    val want = (p + z * z / (2 * n) - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))) /
      (1 + z * z / n)
    assert(got("X") == ((11L, 13L, p, want)), s"got ${got("X")} want $want")
    // Y's raw rate (1.0) beats X's, but its 2-game bound must fall BELOW X's
    assert(got("Y")._3 == 1.0 && got("Y")._4 < got("X")._4,
      s"small perfect sample must rank below the larger ${p}: $got")
    // W appears (all-loser via the full join), rate 0, bound >= 0
    assert(got("W")._1 == 0L && got("W")._3 == 0.0 && got("W")._4 >= 0.0)
  }

  test("trainingOrder: proportional interleave, per-slice curriculum decay") {
    import spark.implicits._
    // slice a: 100 docs, slice b: 50 — a must appear ~2x as often in
    // every prefix
    val docs = ((1L to 100L).map(i => (i, "a", (1000 - i).toDouble)) ++
      (101L to 150L).map(i => (i, "b", (1000 - i).toDouble)))
      .toDF("id", "slice", "q")
    val got = graft.llm.Mixture.trainingOrder(docs, "id", "slice", col("q"))
      .orderBy("step").collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("slice"),
        r.getAs[Long]("id"), r.getAs[Long]("slice_rank")))
    assert(got.length == 150 && got.map(_._1).toSeq == (1L to 150L))
    // proportionality: every 30-step prefix window stays near 2:1
    for (p <- Seq(30, 60, 90, 120)) {
      val na = got.take(p).count(_._2 == "a")
      assert(math.abs(na - p * 2.0 / 3) <= 1.5, s"prefix $p: $na a-docs")
    }
    // curriculum: within each slice, slice_rank (quality-desc order)
    // strictly increases along the global order
    for (s <- Seq("a", "b")) {
      val ranks = got.filter(_._2 == s).map(_._4).toSeq
      assert(ranks == ranks.sorted && ranks.distinct == ranks,
        s"slice $s must decay in curriculum order")
    }
  }

  test("ccDetect: Luhn gate separates valid cards from digit noise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay with 4111111111111111 now"),        // Luhn-valid
      (2L, "pay with 4111111111111112 now"),        // candidate, invalid
      (3L, "ref 12345678901234567890 is an id"),    // 20-digit run: no standalone candidate
      (4L, "card 5500005555555559 works"),          // another valid test number
      (5L, "no digits at all")
    ).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.ccDetect(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("n_cc_candidates"), r.getAs[Long]("n_cc_valid"),
          r.getAs[String]("redacted_text")))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1)
    assert(got(2L)._1 == 1 && got(2L)._2 == 0, "near-miss must fail the checksum")
    assert(got(3L)._1 == 0, "a longer digit run is not a standalone candidate")
    assert(got(3L)._3.contains("<CC>"), "redaction stays over-safe inside long runs")
    assert(got(4L) == ((1L, 1L, "card <CC> works")))
    assert(got(5L) == ((0L, 0L, "no digits at all")))
  }

  test("WAV codec: round-trip exact; parser validates instead of trusting") {
    import graft.llm.Multimodal.{decodeWav, encodeWav}
    val samples = Array[Short](0, 100, -200, 32767, -32768, 5)
    val wav = encodeWav(samples, 8000)
    val Some((rate, got)) = decodeWav(wav)
    assert(rate == 8000 && got.toSeq == samples.toSeq, "round-trip must be bit-exact")

    // unknown chunk before data must be SKIPPED (real WAVs carry LIST)
    val withList = {
      val data = wav.drop(36) // "data" + len + samples
      val fmt = wav.slice(12, 36)
      val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
      val body = fmt ++ list ++ data
      val out = java.nio.ByteBuffer.allocate(12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes).putInt(4 + body.length).put("WAVE".getBytes).put(body)
      out.array()
    }
    assert(decodeWav(withList).exists(_._2.toSeq == samples.toSeq),
      "parser must walk the chunk list, not hardcode offsets")

    // corruption rejects, never garbage
    assert(decodeWav(wav.take(20)).isEmpty, "truncated header")
    assert(decodeWav("RIFX".getBytes ++ wav.drop(4)).isEmpty, "bad magic")
    val truncated = wav.dropRight(3) // data chunk shorter than declared
    assert(decodeWav(truncated).isEmpty, "truncated data must reject")
    val stereo = wav.clone; stereo(22) = 2 // channels = 2
    assert(decodeWav(stereo).isEmpty, "only mono PCM16 is in contract")
  }

  test("weightedSample drops non-positive weights instead of sampling garbage") {
    // ADVICE r6: w = 0 yielded ln(u)/0 = -Inf (silently unselectable)
    // and w < 0 INVERTED the bias — such rows must be ineligible, and
    // the positive-weight draw must be unaffected by their presence
    val good = (1L to 50L).map(i => (i, "s", i.toDouble))
    val bad = Seq((900L, "s", 0.0), (901L, "s", -5.0))
    val d = (good ++ bad).toDF("doc_id", "source", "w")
    val picked = graft.operators.Shedding
      .weightedSample(spark, d, "source", "doc_id", col("w"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked.size == 10 && !picked.contains(900L) && !picked.contains(901L))
    val cleanOnly = graft.operators.Shedding
      .weightedSample(spark, good.toDF("doc_id", "source", "w"), "source", "doc_id",
        col("w"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked == cleanOnly, "ineligible rows must not perturb the draw")
  }

  test("packSequences: straddling docs span sequences, offsets chain per group") {
    val d = Seq((1L, "g", 100L), (2L, "g", 200L), (3L, "g", 56L), (4L, "g", 10L))
      .toDF("doc_id", "source", "tokens")
    val out = TextAnalysis.packSequences(d, "doc_id", "source", col("tokens"), budget = 256)
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((0L, 0L, 0L)))     // [0,100) in seq 0
    assert(out(2L) == ((100L, 0L, 1L)))   // [100,300) straddles 0/1
    assert(out(3L) == ((300L, 1L, 1L)))   // [300,356)
    assert(out(4L) == ((356L, 1L, 1L)))   // [356,366)
  }

  test("CorpusFrame: the full curation chain composes lazily and shrinks monotonically") {
    import graft.llm.CorpusFrame
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalSet = corpus.filter(col("doc_id") % 50 === 0)
    val train = CorpusFrame(corpus.filter(col("doc_id") % 50 =!= 0), "doc_id", "text")
    val n0 = train.df.count()
    val q = train.filterQuality(0.2)
    val nq = q.df.count()
    assert(nq <= n0 && nq > 0)
    val d = q.dedupExact()
    val nd = d.df.count()
    assert(nd <= nq && nd > 0)
    val c = d.decontaminateAgainst(evalSet, maxOverlap = 0.8)
    val nc = c.df.count()
    assert(nc <= nd && nc > 0)
    // no survivor still overlaps the eval set at the threshold
    val residual = graft.llm.Dedup.contamination(c.df, evalSet, "doc_id", "text")
      .filter(col("contamination") >= 0.8).count()
    assert(residual == 0)
    val sampled = c.quotaPerGroup(spark, "source", k = 3)
    val ns = sampled.df.count()
    assert(ns <= nc)
    assert(sampled.df.groupBy("source").count().agg(max("count")).head().getLong(0) <= 3)
    // packing manifest covers every sampled doc exactly once
    val manifest = sampled.packSequences("source", budget = 64)
    assert(manifest.count() == ns)
    assert(manifest.select("doc").distinct().count() == ns)
  }

  test("CorpusFrame: perplexity stage keeps in-distribution docs, drops noise and scoreless docs") {
    import spark.implicits._
    import graft.llm.CorpusFrame
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the cat sat on the rug", true),
      (3L, "the cat sat on the mat", false),   // in-distribution holdout
      (4L, "zygote quasar bungee flux", false), // noise
      (5L, "", false)                           // zero words: NULL score, dropped
    ).toDF("doc_id", "text", "is_en")
    val cf = CorpusFrame(docs, "doc_id", "text")
    val scored = cf.withPerplexity(col("is_en")).df
      .select(col("doc_id"), col("cross_entropy"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(scored(5L).isEmpty && scored(3L).get < scored(4L).get)
    // the cut sits between the two scores: doc 3 survives, 4 and 5 drop
    val cut = (scored(3L).get + scored(4L).get) / 2
    val kept = cf.filterPerplexity(col("is_en"), maxCe = cut).df
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"$kept")
  }

  test("CorpusFrame: span-dup filter and length trimming drop exactly the flagged docs") {
    import graft.llm.CorpusFrame
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val frame = CorpusFrame(corpus, "doc_id", "text")

    // span-dup filter ≡ anti-join of the profile above the threshold
    val kept = frame.filterSpanDup(maxFraction = 0.8).df
    val flagged = graft.llm.Dedup.spanDuplication(corpus, "doc_id", "text")
      .filter(col("dup_fraction") > 0.8).count()
    assert(kept.count() == corpus.count() - flagged)
    assert(flagged > 0, "corpus should contain heavily-duplicated docs")

    // trimming drops ~20% per source and keeps interior ranks only
    val trimmed = frame.trimLengthOutliers("source", "n_chars", 100, 100).df
    val perSource = corpus.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptPer = trimmed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      val lo = n * 100 / 1000
      assert(keptPer(src) == n - 2 * lo, s"$src: expected ${n - 2 * lo}, got ${keptPer(src)}")
    }
    // survivors' length range sits inside the dropped extremes
    val srcMin = corpus.groupBy("source").agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
    val kr = trimmed.groupBy("source").agg(min("n_chars").as("kmn"), max("n_chars").as("kmx"))
    val joined = srcMin.join(kr, "source").collect()
    joined.foreach { r =>
      assert(r.getAs[Long]("kmn") >= r.getAs[Long]("mn"))
      assert(r.getAs[Long]("kmx") <= r.getAs[Long]("mx"))
    }
  }

  test("filterSpanDup keeps docs absent from the span profile (NULL text — ADVICE r4)") {
    import graft.llm.CorpusFrame
    // doc 3's NULL text yields no shingles: explode drops it from the
    // profile, so the keep-side anti-join must retain it (the oracles
    // mirror this with LEFT JOIN + COALESCE(dup_fraction, 0))
    val rows = Seq(
      Row(1L, "a b c d e f g"),
      Row(2L, "a b c d e f g"),
      Row(3L, null)
    )
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType, nullable = true)))
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val kept = CorpusFrame(docs, "doc_id", "text").filterSpanDup(maxFraction = 0.8)
      .df.select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 and 2 are full span-dups of each other (dup_fraction 1.0 > 0.8)
    assert(kept == Set(3L), s"got $kept")
  }

  test("minhash candidate quality: measured recall/precision vs exact Jaccard") {
    // ground truth: exact n-gram Jaccard over all pairs (m² — fine at
    // sf0.001). Measured on this corpus: 28 strong pairs, recall 1.0,
    // precision 1.0 at the 0.5 floor; pinned with margin so corpus
    // regeneration can move the numbers without masking a real
    // parameter regression (K=32, 8×4 bands).
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val truth = graft.llm.Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val mh = graft.llm.Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val strong = truth.filter(_._2 >= 0.8).keySet
    assert(strong.nonEmpty, "corpus must contain strong near-dups")
    val recall = strong.count(mh.contains).toDouble / strong.size
    val precision = mh.count(p => truth.getOrElse(p, 0.0) >= 0.5).toDouble / math.max(mh.size, 1)
    assert(recall >= 0.9, s"minhash must recover >=90% of jaccard>=0.8 pairs, got $recall")
    assert(precision >= 0.9, s">=90% of est>=0.6 pairs must have true jaccard >=0.5, got $precision")
  }

  test("persisted-signature handoff: stored sigs reproduce the direct cross-corpus dedup") {
    import graft.llm.Dedup
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val existing = all.filter(col("doc_id") % 2 === 0)
    val newDocs = all.filter(col("doc_id") % 2 === 1)
    // persist the accumulated corpus's signatures (the incremental
    // handoff artifact), reload, and dedup the new snapshot against it
    val sigDir = java.nio.file.Files.createTempDirectory("graft_sigs").toString
    Dedup.signatures(existing, "doc_id", "text").write.mode("overwrite").parquet(sigDir)
    val reloaded = spark.read.parquet(sigDir)
    val viaStore = Dedup.minhashAgainstSigs(
        Dedup.signatures(newDocs, "doc_id", "text"), reloaded, minJaccard = 0.6)
      .select("new_doc", "old_doc", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minhashAgainstPairs(newDocs, existing, "doc_id", "text", 0.6)
      .select("new_doc", "old_doc", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(direct.nonEmpty && viaStore == direct)
  }

  test("sourceDivergence: zero for matching distributions, positive under drift") {
    import spark.implicits._
    // slices a and b share one distribution; slice c is disjoint vocabulary
    val docs = Seq(
      (1L, "a", "x x y z"), (2L, "a", "x x y z"),
      (3L, "b", "x x y z"),
      (4L, "c", "q q q r")
    ).toDF("doc_id", "source", "text")
    val out = graft.llm.Mixture.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // a and b match each other but NOT the pooled corpus (c shifts it),
    // so all divergences are positive; the disjoint slice diverges most
    assert(out.values.forall(_ >= 0.0), s"KL must be non-negative: $out")
    assert(out("c") > out("a") && out("c") > out("b"), s"got $out")
    assert(math.abs(out("a") - out("b")) < 1e-9, "identical slices must diverge equally")

    // a corpus with ONE slice: p == q everywhere, KL exactly 0
    val single = Seq((1L, "only", "x y z"), (2L, "only", "x y z")).toDF("doc_id", "source", "text")
    val kl0 = graft.llm.Mixture.sourceDivergence(single, "source", "text")
      .collect()(0).getDouble(3)
    assert(kl0 == 0.0, s"single-slice corpus must have KL 0, got $kl0")
  }

  test("piiRedact: counts and placeholders for each PII family; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@test.org and d@ex.co now"),
      (2L, "server at 192.168.001.1 and 10.0.0.7"),
      (3L, "call 555-123-4567 or 555 987 6543"),
      (4L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(docs, "doc_id", "text")
      .orderBy("doc").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 2 && out(1L)._4 == "mail <EMAIL> and <EMAIL> now")
    assert(out(2L)._2 == 2 && out(2L)._4 == "server at <IP> and <IP>")
    assert(out(3L)._3 == 2 && out(3L)._4 == "call <PHONE> or <PHONE>")
    assert(out(4L) == ((0L, 0L, 0L, "nothing sensitive here at all")))
  }

  test("Netpbm decoder: P5/P6 parse, comments, truncation and garbage reject") {
    def pgm(w: Int, h: Int, pix: Array[Byte], header: String = "") =
      (s"P5\n$header$w $h\n255\n").getBytes("UTF-8") ++ pix
    // P5: 2x2 grayscale, mean of the 4 samples
    val p5 = Multimodal.decodeNetpbm(pgm(2, 2, Array[Byte](10, 20, 30, 40)))
    assert(p5.contains(("P5", 2, 2, 255, 4L, 25.0)), s"got $p5")
    // comments in the header are skipped
    val withComment = Multimodal.decodeNetpbm(
      pgm(2, 1, Array[Byte](100, 50), header = "# a comment\n"))
    assert(withComment.contains(("P5", 2, 1, 255, 2L, 75.0)), s"got $withComment")
    // P6: 1x1 RGB — three samples, n_pixels still 1
    val p6 = Multimodal.decodeNetpbm(
      "P6\n1 1\n255\n".getBytes("UTF-8") ++ Array[Byte](30, 60, 90))
    assert(p6.contains(("P6", 1, 1, 255, 1L, 60.0)), s"got $p6")
    // truncated raster and non-image bytes reject, never garbage-decode
    assert(Multimodal.decodeNetpbm(pgm(4, 4, Array[Byte](1, 2, 3))).isEmpty)
    assert(Multimodal.decodeNetpbm("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeNetpbm(Array.empty[Byte]).isEmpty)

    // pooled feature vectors: 4x2 raster into a 2x2 grid — each cell is
    // the exact mean of its 2x1 pixel block
    val pooled = Multimodal.decodeNetpbmPooled(
      pgm(4, 2, Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)), 2, 2)
    assert(pooled.map(_._3.toSeq).contains(Seq(15.0, 35.0, 55.0, 75.0)), s"got $pooled")
    // P6 pools a pixel's three channels into the pixel's cell
    val pooled6 = Multimodal.decodeNetpbmPooled(
      "P6\n2 1\n255\n".getBytes("UTF-8") ++ Array[Byte](10, 20, 30, 40, 50, 60), 2, 1)
    assert(pooled6.map(_._3.toSeq).contains(Seq(20.0, 50.0)), s"got $pooled6")
    // a raster smaller than the grid would leave empty cells — reject
    assert(Multimodal.decodeNetpbmPooled(pgm(2, 2, Array[Byte](1, 2, 3, 4)), 4, 4).isEmpty)
  }

  test("compressed codecs: PNG/BMP/GIF decode exactly via the JDK, JPEG dims; garbage rejects") {
    import java.awt.image.BufferedImage
    // a 4x2 raster with 4 distinct colors (GIF-safe palette size)
    val px = Array(
      Array(0x102030, 0x405060, 0x102030, 0x405060),
      Array(0x708090, 0x102030, 0x708090, 0xA0B0C0))
    val img = new BufferedImage(4, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4) img.setRGB(x, y, px(y)(x))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"ImageIO cannot write $fmt")
      bos.toByteArray
    }
    val exactMean = px.flatten.map(c =>
      ((c >> 16) & 0xff) + ((c >> 8) & 0xff) + (c & 0xff)).sum.toDouble / (8 * 3)
    // lossless family: exact mean, exact dims, format sniffed
    for ((fmt, tag) <- Seq("png" -> "PNG", "bmp" -> "BMP")) {
      val got = Multimodal.decodeCompressed(enc(fmt))
      assert(got.contains((tag, 4, 2, 255, 8L, exactMean)), s"$fmt: got $got")
    }
    // JPEG (lossy codec) and GIF (Java's WRITER quantizes the palette
    // even under 256 colors): dimensions and sniff exact, means not
    for ((fmt, tag) <- Seq("jpg" -> "JPEG", "gif" -> "GIF")) {
      val got = Multimodal.decodeCompressed(enc(fmt))
      assert(got.exists { case (f, w, h, mv, np, _) =>
        f == tag && w == 4 && h == 2 && mv == 255 && np == 8L }, s"$fmt: got $got")
    }
    // pooled parity: the SAME raster through PNG equals its P6 encoding
    val p6 = "P6\n4 2\n255\n".getBytes("UTF-8") ++
      px.flatten.flatMap(c => Array(((c >> 16) & 0xff).toByte,
        ((c >> 8) & 0xff).toByte, (c & 0xff).toByte))
    val viaPng = Multimodal.decodeCompressedPooled(enc("png"), 2, 2).map(_._3.toSeq)
    val viaP6 = Multimodal.decodeNetpbmPooled(p6, 2, 2).map(_._3.toSeq)
    assert(viaPng == viaP6 && viaPng.nonEmpty,
      s"PNG pooled features must equal the Netpbm encoding: $viaPng vs $viaP6")
    // and the unified decodeImage dispatches both families
    assert(Multimodal.decodeImage(p6).exists(_._1 == "P6"))
    assert(Multimodal.decodeImage(enc("png")).exists(_._1 == "PNG"))
    // truncated / corrupt payloads quarantine, never throw
    assert(Multimodal.decodeCompressed(enc("png").take(20)).isEmpty)
    assert(Multimodal.decodeCompressed("noise bytes that are not an image".getBytes).isEmpty)
    assert(Multimodal.decodeCompressed(Array.empty[Byte]).isEmpty)
  }

  test("winnowing: window-min selection, the length guarantee, hub cap, edges") {
    import graft.llm.Dedup
    import org.apache.spark.unsafe.types.UTF8String
    def fps(t: String, g: Int, w: Int): Seq[Long] =
      graft.functions.Winnow.eval(UTF8String.fromString(t), g, w)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray().toSeq
    def strh(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c) % graft.functions.StrHash.P)
    // brute replica: hash every gram, take each window's min, distinct+sort
    def brute(t: String, g: Int, w: Int): Seq[Long] = {
      if (t.length < g) return Seq.empty
      val hs = (0 to t.length - g).map(i => strh(t.substring(i, i + g)))
      val sel = if (hs.length <= w) Seq(hs.min)
        else (0 to hs.length - w).map(i => hs.slice(i, i + w).min)
      sel.distinct.sorted
    }
    for (t <- Seq("abcdefghijklmno", "the quick brown fox jumps", "aaaaaaaaaa", "xyxyxyxyxyxy");
         (g, w) <- Seq((4, 3), (5, 4), (8, 4)))
      assert(fps(t, g, w) == brute(t, g, w), s"deque ≠ brute for '$t' g=$g w=$w")
    // edges: shorter than gram → none; fewer grams than window → the one overall min
    assert(fps("abc", 8, 4).isEmpty)
    assert(fps("abcdefghij", 8, 4) == brute("abcdefghij", 8, 4) && fps("abcdefghij", 8, 4).size == 1)
    // the winnowing GUARANTEE: docs sharing a substring of length >=
    // gram + window - 1 share at least one fingerprint
    val shared = "UNIQUESHAREDRUN"                      // 15 = 8 + 8 - 1 with g=8 w=8
    val a = "left padding here " + shared + " tail one"
    val b = "totally different prefix " + shared + " other end"
    assert(fps(a, 8, 8).toSet.intersect(fps(b, 8, 8).toSet).nonEmpty,
      "shared >= g+w-1 substring must share a fingerprint")
    // winnowedPairs: the sharing pair surfaces; the hub cap drops a
    // boilerplate run present in EVERY doc
    import spark.implicits._
    val boiler = " COMMONFOOTERRUNS"
    val docs = Seq((1L, a + boiler), (2L, b + boiler),
      (3L, "nothing in common with those" + boiler)).toDF("doc_id", "text")
    val capped = Dedup.winnowedPairs(docs, "doc_id", "text",
        gram = 8, window = 8, minShared = 1, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"df-3 boilerplate fingerprints must be capped out, got $capped")
    val uncapped = Dedup.winnowedPairs(docs, "doc_id", "text",
        gram = 8, window = 8, minShared = 1, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"uncapped boilerplate links every pair, got $uncapped")
  }

  test("mu-law codec: JDK decode == G.711 formula; AIFF decodes; corruption rejects") {
    import graft.llm.Multimodal
    val samples = Array[Short](0, 1, -1, 100, -100, 1000, -1000, 8000, -8000,
      30000, -30000, 32767, -32768)
    val wav = Multimodal.encodeWavUlaw(samples, 8000)
    // the JDK's ULAW codec must land on EXACTLY the standard expansion
    val Some((rate, got)) = Multimodal.decodeWavCompressed(wav)
    assert(rate == 8000)
    assert(got.toSeq == samples.map(s =>
      Multimodal.ulawDecode(Multimodal.ulawEncode(s))).toSeq,
      s"JDK mu-law decode must equal the G.711 formula, got ${got.toSeq}")
    // quantization error is logarithmically bounded (lossy but sane)
    samples.zip(got).foreach { case (orig, dec) =>
      assert(math.abs(orig - dec) <= math.max(math.abs(orig.toInt) / 16, 132),
        s"$orig -> $dec exceeds the mu-law error envelope")
    }
    // plain-PCM payloads are NOT this path's business (decodeWav owns them)
    assert(Multimodal.decodeWavCompressed(
      Multimodal.encodeWav(samples, 8000)).isEmpty)
    // but the unified entry point routes both
    assert(Multimodal.decodeAudioBytes(Multimodal.encodeWav(samples, 8000))
      .exists(_._2.toSeq == samples.toSeq))
    assert(Multimodal.decodeAudioBytes(wav).nonEmpty)
    // AIFF through the same JDK seam: PCM16 round-trips exactly
    val pcmFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val frameBytes = samples.flatMap(s =>
      Array(((s >> 8) & 0xff).toByte, (s & 0xff).toByte))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(frameBytes), pcmFmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    assert(Multimodal.decodeWavCompressed(bos.toByteArray)
      .exists(_._2.toSeq == samples.toSeq), "AIFF PCM16 must round-trip exactly")
    // corruption quarantines, never throws
    assert(Multimodal.decodeWavCompressed(wav.take(30)).isEmpty)
    assert(Multimodal.decodeWavCompressed("not audio at all".getBytes).isEmpty)
    assert(Multimodal.decodeWavCompressed(Array.empty[Byte]).isEmpty)
  }

  test("rougeN: clipped bigram overlap, hand-computed P/R/F1, short-side NULLs") {
    import spark.implicits._
    // cand "a b a b": {a b: 2, b a: 1} (3 grams); ref "a b c a":
    // {a b: 1, b c: 1, c a: 1} (3 grams); clip overlap = min(2,1) = 1
    val pairs = Seq(
      (1L, "a b a b", "a b c a"),
      (2L, "x", "y z"),          // cand too short: precision NULL
      (3L, "q r", "s")           // ref too short: recall NULL, f1 from cand side
    ).toDF("doc_id", "cand", "ref")
    val got = graft.llm.TextAnalysis.rougeN(pairs, "doc_id", "cand", "ref", n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert((got(1L).getLong(1), got(1L).getLong(2), got(1L).getLong(3)) == ((1L, 3L, 3L)))
    assert((got(1L).getDouble(4), got(1L).getDouble(5), got(1L).getDouble(6))
      == ((1.0 / 3, 1.0 / 3, 2.0 / 6)))
    assert(got(2L).get(4) == null && got(2L).getDouble(5) == 0.0)
    assert(got(3L).getDouble(4) == 0.0 && got(3L).get(5) == null && got(3L).getDouble(6) == 0.0)
  }

  test("rougeN: maxTokens clips both sides before gram extraction; 0 = uncapped") {
    import spark.implicits._
    val pairs = Seq((1L, "a b a b", "a b c a")).toDF("doc_id", "cand", "ref")
    // cap 3: cand "a b a" → {a b, b a} (2 grams); ref "a b c" →
    // {a b, b c} (2 grams); clip overlap = 1 → P = R = 1/2, F1 = 2/4
    val capped = graft.llm.TextAnalysis.rougeN(
      pairs, "doc_id", "cand", "ref", n = 2, maxTokens = 3).collect().head
    assert((capped.getLong(1), capped.getLong(2), capped.getLong(3)) == ((1L, 2L, 2L)))
    assert((capped.getDouble(4), capped.getDouble(5), capped.getDouble(6))
      == ((0.5, 0.5, 0.5)))
    // cap wider than both docs ≡ uncapped ≡ default
    val wide = graft.llm.TextAnalysis.rougeN(
      pairs, "doc_id", "cand", "ref", n = 2, maxTokens = 100).collect().head
    assert((wide.getLong(1), wide.getLong(2), wide.getLong(3)) == ((1L, 3L, 3L)))
  }

  test("pmiPairs: presence counts, hub cap, min support, hand-computed pmi") {
    import spark.implicits._
    // N=5; df: a=3, b=3, c=2, x=1; (a,b) co-occurs in 2 docs (d1's
    // repeated 'a' must not inflate the presence count)
    val corpus = Seq((1L, "a b a"), (2L, "a b"), (3L, "a c"), (4L, "b c"), (5L, "x"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.pmiPairs(corpus, "doc_id", "text",
      maxDfFrac = 0.9, minPairDocs = 2, k = 10).collect()
    assert(got.length == 1, "only (a,b) meets minPairDocs = 2")
    val r = got.head
    assert(r.getAs[String]("term_a") == "a" && r.getAs[String]("term_b") == "b")
    assert(r.getAs[Long]("pair_docs") == 2L)
    val expected = new java.math.BigDecimal(math.log(5.0 * 2 / 9))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(math.abs(r.getAs[Double]("pmi") - expected) < 1e-9)
    // hub cap at 0.5: a and b (df 3 > 2.5) drop; no surviving pair co-occurs
    assert(graft.llm.TextAnalysis.pmiPairs(corpus, "doc_id", "text",
      maxDfFrac = 0.5, minPairDocs = 1, k = 10).count() == 0)
  }

  test("hashedVectors: signed tf sums in hashed buckets, zero-filled; dups collapse") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val dims = 8
    def bucket(t: String) =
      (graft.functions.StrHash.hash(UTF8String.fromString(t)) % dims).toInt
    def sign(t: String) =
      if (graft.functions.StrHash.hash(UTF8String.fromString("s" + t)) % 2 == 0) 1L else -1L
    val corpus = Seq((1L, "a b a"), (2L, "a b a"), (3L, "c")).toDF("doc_id", "text")
    val vecs = graft.llm.TextAnalysis.hashedVectors(corpus, "doc_id", "text", dims)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](r.fieldIndex("v")).toList)
      .toMap
    val expected1 = Array.fill(dims)(0.0)
    expected1(bucket("a")) += sign("a") * 2.0
    expected1(bucket("b")) += sign("b") * 1.0
    assert(vecs(1L).toArray.toSeq == expected1.toSeq)
    assert(vecs(1L) == vecs(2L), "identical docs must hash to identical vectors")
    assert(vecs(3L).count(_ != 0.0) == 1)
    // exact dup pair sits in one cell at cosine 1 — the later id drops
    val kept = graft.llm.TextAnalysis.textSemanticDedup(corpus, "doc_id", "text",
      minCosine = 0.9999, numCentroids = 2, dims = dims)
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(kept.contains(1L) && !kept.contains(2L) && kept.contains(3L))
  }

  test("multimodal: binary plumbing round-trips byte stats; frames fan out") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(5L).n_bytes == 4)
    assert(math.abs(feats(5L).avg_byte - ("tiny".map(_.toInt).sum / 4.0)) < 1e-9)
    val frames = Multimodal.sampleFrames(spark, media, frames = 3)
    assert(frames.count() == docs.count() * 3)
  }

  test("negativeSamples: label-disjoint, anchor-free, k-capped, reshuffle-invariant") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = graft.llm.Selection.negativeSamples(emb, "vec_id", "label",
        k = 4, poolSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    got.foreach { case (a, rk, n, nl) =>
      assert(n != a, s"anchor $a sampled itself")
      assert(nl != labelOf(a), s"anchor $a drew its own label class")
      assert(labelOf(n) == nl, "negative label must be the candidate's own")
      assert(rk >= 1 && rk <= 4)
    }
    // ranks are dense per anchor
    got.groupBy(_._1).foreach { case (a, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, s"anchor $a ranks")
    }
    // a pure function of the ids: partitioning cannot change the draw
    val re = graft.llm.Selection.negativeSamples(emb.repartition(13), "vec_id", "label",
        k = 4, poolSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(re.sorted.toSeq == got.sorted.toSeq)
  }
}
