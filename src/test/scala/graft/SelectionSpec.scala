package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Selection, TextAnalysis, TextOps}

/** Budget selection: the two-pass distributed cumsum must equal the
  * naive single-window formulation exactly, and the budget is a prefix
  * cut (first overflow ends selection even if later docs would fit).
  */
class SelectionSpec extends SparkSpec {

  import spark.implicits._

  test("two-pass cumsum selects exactly the naive global-window prefix") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("quality_score"))
    val joined = docs.select(col("doc_id"), col("text")).join(q, "doc_id")
    val budget = 10000L

    val fast = Selection.selectByBudget(
        joined, "doc_id", "quality_score", size(TextOps.words(col("text"))), budget)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap

    val naive = joined
      .select(col("doc_id"), col("quality_score"),
        size(TextOps.words(col("text"))).cast("long").as("tokens"))
      .withColumn("cum_tokens",
        sum(col("tokens")).over(Window.orderBy(col("quality_score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap

    assert(fast.nonEmpty && fast == naive)
  }

  test("budget is a prefix cut: the first overflow ends selection") {
    // ranks: a(5), b(4), c(3) — budget 8: a fits (5), b overflows (9),
    // and c (cum 12) is NOT reconsidered even though 5+3 <= 8
    val docs = Seq(
      ("a", 3.0, 5), ("b", 2.0, 4), ("c", 1.0, 3)
    ).toDF("id", "score", "tok")
    val kept = Selection.selectByBudget(docs, "id", "score", col("tok"), budgetTokens = 8L)
      .select("id").as[String].collect().toSet
    assert(kept == Set("a"))
  }

  test("exact budget boundary is inclusive") {
    val docs = Seq(("a", 2.0, 5), ("b", 1.0, 3)).toDF("id", "score", "tok")
    val kept = Selection.selectByBudget(docs, "id", "score", col("tok"), budgetTokens = 8L)
      .select("id", "cum_tokens").as[(String, Long)].collect().toMap
    assert(kept == Map("a" -> 5L, "b" -> 8L))
  }

  test("shardBalanced: matches the naive global rank; loads bounded by avg + max doc") {
    val rng = new scala.util.Random(5)
    val docs = (1L to 3000L).map(i => (i, 20L + rng.nextInt(400))).toDF("id", "tok")
    val budget = 25000L
    val got = Selection.shardBalanced(docs, "id", col("tok"), budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // naive reference: global (tokens desc, id) rank, round-robin
    val total = got.map(_._2).sum
    val nShards = (total + budget - 1) / budget
    assert(got.forall(_._4 == nShards))
    val naive = got.map(t => (t._1, t._2)).sortBy { case (id, tok) => (-tok, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i.toLong % nShards) }.toMap
    got.foreach { case (id, _, shard, _) =>
      assert(shard == naive(id), s"doc $id: got shard $shard, naive ${naive(id)}")
    }
    // LPT round-robin balance: every shard's load <= avg + max doc
    val loads = got.groupBy(_._3).map { case (_, xs) => xs.map(_._2).sum }
    val avg = total.toDouble / nShards
    val maxDoc = got.map(_._2).max
    assert(loads.size == nShards)
    loads.foreach(l => assert(l <= avg + maxDoc, s"load $l vs avg $avg + max $maxDoc"))
  }

  test("dsirWeights: target-vocabulary docs outscore raw-vocabulary docs") {
    val docs = Seq(
      (1L, "alpha alpha alpha alpha", "en"),
      (2L, "alpha alpha beta alpha", "en"),
      (3L, "beta beta beta beta", "de"),
      (4L, "beta gamma beta beta", "de"),
      (5L, "alpha alpha alpha beta", "de"), // raw-slice doc with target vocab
      (6L, "beta beta beta alpha", "en"),   // target-slice doc with raw vocab
      (7L, "", "en")                        // no words: drops out entirely
    ).toDF("doc_id", "text", "lang")
    val out = Selection
      .dsirWeights(docs, "doc_id", "text", col("lang") === "en", numBuckets = 4096)
      .select(col("doc_id"), col("dsir_score")).as[(Long, Double)].collect().toMap
    // relevance follows the doc's VOCABULARY, not its slice label
    assert(out(5L) > out(6L))
    assert(out(1L) > out(3L))
    // and is monotone in target-vocabulary share
    assert(out(1L) > out(2L) && out(2L) > out(6L))
    assert(!out.contains(7L))
  }

  test("LM broadcast guard: oversized models fail loudly, naming numBuckets") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", true),
      (2L, "eta theta iota kappa lambda mu", true),
      (3L, "alpha beta unknown words here", false)
    ).toDF("doc_id", "text", "is_ref")
    // trigram: ref slice has 12 distinct (qb,pb,wb) trigram rows — a
    // maxModelRows below that must trip BEFORE any broadcast
    val eTg = intercept[IllegalArgumentException] {
      Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), order = 3, lambdas = Seq(0.5, 0.3),
        maxModelRows = 3L)
    }
    assert(eTg.getMessage.contains("numBuckets") &&
      eTg.getMessage.contains("maxModelRows=3"))
    // bigram sibling trips the same guard
    val eBg = intercept[IllegalArgumentException] {
      Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), order = 2, lambdas = Seq(0.7),
        maxModelRows = 3L)
    }
    assert(eBg.getMessage.contains("numBuckets"))
    // unigram + DSIR models are structurally <= numBuckets rows: the
    // bound checks at entry with no count job
    val eUg = intercept[IllegalArgumentException] {
      Selection.lmCrossEntropy(
        docs, "doc_id", "text", col("is_ref"), numBuckets = 4096, maxModelRows = 100L)
    }
    assert(eUg.getMessage.contains("numBuckets=4096"))
    val eDs = intercept[IllegalArgumentException] {
      Selection.dsirWeights(
        docs, "doc_id", "text", col("is_ref"), numBuckets = 4096, maxModelRows = 100L)
    }
    assert(eDs.getMessage.contains("numBuckets=4096"))
    // at the default bound all four still run: same docs, scores finite
    val ok = Selection.lmCrossEntropy(docs, "doc_id", "text", col("is_ref"), order = 3,
      lambdas = Seq(0.5, 0.3))
      .select(col("doc_id"), col("cross_entropy")).as[(Long, Double)].collect()
    assert(ok.length == 3 && ok.forall(t => !t._2.isNaN && !t._2.isInfinite))
  }

  // the five hashed-LM configurations: (name, whether an empty reference
  // puts every token exactly on the 1/B floor, scorer). The add-one
  // orders 2 and 3 mix λ-weighted copies of 1/B, which need not round
  // back to it exactly.
  private def lmConfigs(b: Int): Seq[(String, Boolean, (DataFrame, Column) => DataFrame)] = Seq(
    ("add-one order 1", true, (d, r) => Selection.lmCrossEntropy(d, "doc_id", "text", r,
      numBuckets = b)),
    ("add-one order 2", false, (d, r) => Selection.lmCrossEntropy(d, "doc_id", "text", r,
      order = 2, lambdas = Seq(0.7), numBuckets = b)),
    ("add-one order 3", false, (d, r) => Selection.lmCrossEntropy(d, "doc_id", "text", r,
      order = 3, lambdas = Seq(0.5, 0.3), numBuckets = b)),
    ("KN order 2", true, (d, r) => Selection.lmCrossEntropyKneserNey(d, "doc_id", "text", r,
      numBuckets = b)),
    ("KN order 3", true, (d, r) => Selection.lmCrossEntropyKneserNey(d, "doc_id", "text", r,
      order = 3, numBuckets = b)))

  test("LM family: NULL and empty docs drop, short docs score finite, empty reference floors") {
    val b = 1 << 10
    val docs = Seq(
      (1L, Some("a b c a b"), true),
      (2L, None, false),               // NULL text
      (3L, Some(""), false),           // zero words
      (4L, Some("a"), false),          // one word: every history slot is the start context
      (5L, Some("a b"), false),
      (6L, Some("a b c d e"), false)
    ).toDF("doc_id", "text", "is_ref")
    def finite(d: Double) = !d.isNaN && !d.isInfinite
    for ((name, _, lm) <- lmConfigs(b)) {
      val ce = lm(docs, col("is_ref"))
        .select(col("doc_id"), col("cross_entropy")).as[(Long, Double)].collect().toMap
      assert(ce.keySet == Set(1L, 4L, 5L, 6L), s"$name: NULL and empty docs drop: $ce")
      assert(ce.values.forall(finite), s"$name: $ce")
    }
    val ds = Selection.dsirWeights(docs, "doc_id", "text", col("is_ref"), numBuckets = b)
      .select(col("doc_id"), col("dsir_score")).as[(Long, Double)].collect().toMap
    assert(ds.keySet == Set(1L, 4L, 5L, 6L) && ds.values.forall(finite), s"dsirWeights: $ds")
    // no reference row at all: every model table is empty, so each token
    // backs off to the 1/B floor −round(ln(1/B), 6); a doc of n tokens
    // then scores (n·floor as an exact decimal, to double) / n — the
    // closing division, which may sit one ulp off the floor itself
    val floor = -BigDecimal(math.log(1.0 / b)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    for ((name, exactFloor, lm) <- lmConfigs(b)) {
      val ce = lm(docs, lit(false))
        .select(col("doc_id"), col("n_tokens"), col("cross_entropy"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(ce.keySet == Set(1L, 4L, 5L, 6L) && ce.values.forall(v => finite(v._2)),
        s"$name: $ce")
      if (exactFloor) ce.foreach { case (id, (n, x)) =>
        assert(x == (floor * n).toDouble / n, s"$name: doc $id must sit on the floor $floor: $x")
      }
    }
  }

  test("LM family: order and lambdas outside the family fail loud") {
    val docs = Seq((1L, "a b c", true)).toDF("doc_id", "text", "is_ref")
    def err(f: => DataFrame): String = intercept[IllegalArgumentException](f).getMessage
    val o0 = err(Selection.lmCrossEntropy(docs, "doc_id", "text", col("is_ref"), order = 0))
    assert(o0.contains("lmCrossEntropy: order must be in 1..3, got 0"), o0)
    val o4 = err(Selection.lmCrossEntropy(docs, "doc_id", "text", col("is_ref"), order = 4,
      lambdas = Seq(0.4, 0.3, 0.2)))
    assert(o4.contains("order must be in 1..3, got 4"), o4)
    val kn1 = err(Selection.lmCrossEntropyKneserNey(docs, "doc_id", "text", col("is_ref"),
      order = 1))
    assert(kn1.contains("lmCrossEntropyKneserNey: order must be in 2..3, got 1"), kn1)
    val kn4 = err(Selection.lmCrossEntropyKneserNey(docs, "doc_id", "text", col("is_ref"),
      order = 4))
    assert(kn4.contains("order must be in 2..3, got 4"), kn4)
    val lam = err(Selection.lmCrossEntropy(docs, "doc_id", "text", col("is_ref"), order = 3,
      lambdas = Seq(0.7)))
    assert(lam.contains("order 3 takes 2 lambdas"), lam)
    val sum = err(Selection.lmCrossEntropy(docs, "doc_id", "text", col("is_ref"), order = 3,
      lambdas = Seq(0.6, 0.4)))
    assert(sum.contains("sum below 1"), sum)
  }

  test("dsirResample: exact k per group, deterministic, score-biased") {
    val docs = (0L until 40L).map { i =>
      val grp = if (i % 2 == 0) "g0" else "g1"
      // doc 0 / 1: overwhelmingly target vocabulary -> dominant score
      val text = if (i < 2) Seq.fill(60)("alpha").mkString(" ")
      else Seq.fill(8)(if (i % 3 == 0) "beta" else "gamma").mkString(" ")
      (i, grp, text, if (i % 5 == 0) "en" else "de")
    }.toDF("doc_id", "grp", "text", "lang")
    def run() = Selection
      .dsirResample(spark, docs, "doc_id", "text", "grp",
        col("lang") === "en", k = 6, numBuckets = 4096)
      .select(col("grp"), col("doc_id")).as[(String, Long)].collect().toSet
    val got = run()
    assert(got.groupBy(_._1).forall(_._2.size == 6), s"want 6 per group: $got")
    assert(got == run(), "the drawn set must be identical across runs")
    // a score dominant by tens of nats survives any Gumbel noise
    assert(got.contains(("g0", 0L)) && got.contains(("g1", 1L)))
  }

  test("greedyCoverage: marginal gains, overlap discount, early exhaustion") {
    import spark.implicits._
    // shingles: d1 {abc,bcd}, d2 {abc}, d3 {xyz,yzw,zwv}, d4 {xyz}
    val docs = Seq((1L, "a b c d"), (2L, "a b c"), (3L, "x y z w v"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val got = graft.llm.Selection.greedyCoverage(spark, docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // round 1 picks d3 (3 fresh), round 2 d1 (2 fresh); then every
    // remaining doc has zero marginal gain -> greedy stops before k
    assert(got == List((1L, 3L, 3L, 3L), (2L, 1L, 2L, 5L)))
  }
}
