package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.operators.{Joins, Shedding, Upsert, Windows}

/** Semantic assertions mirroring the reference test suite
  * (ralf/tests/test_e2e.py, test_state.py, test_load_shedding.py) —
  * outcomes, not golden files.
  */
class OperatorSpec extends SparkSpec {

  import spark.implicits._

  private lazy val stream = Seq(
    // (key, ord, value)
    ("a", 1L, 10.0), ("a", 2L, 5.0), ("a", 3L, 20.0), ("a", 4L, 21.0), ("a", 5L, 90.0),
    ("b", 1L, 1.0), ("b", 2L, 2.0), ("b", 3L, 3.0)
  ).toDF("key", "ord", "value")

  test("upsert latest-wins: exactly one current record per key, latest value") {
    val t = Upsert.latest(stream, "key", col("ord")).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(t == Map("a" -> ((5L, 90.0, 5L)), "b" -> ((3L, 3.0, 3L))))
  }

  test("point query returns the key's current value; miss returns empty") {
    val ff = core.FeatureFrame.source(stream, "key", "ord")
    assert(ff.pointQuery("a").select("value").as[Double].head() == 90.0)
    assert(ff.pointQuery("zzz").isEmpty)
  }

  test("tumbling window: complete buckets only, order-preserved values") {
    val w = Windows.tumbling(stream, "key", col("ord"), col("value"), size = 2)
      .select("key", "window_id", "window_values").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](2).toList).toMap
    // a: 5 records -> 2 complete windows; b: 3 records -> 1
    assert(w == Map(
      ("a", 0L) -> List(10.0, 5.0), ("a", 1L) -> List(20.0, 21.0),
      ("b", 0L) -> List(1.0, 2.0)))
  }

  test("sliding window emission count = max(0, floor((n-w)/s)+1) per key") {
    val n = 23; val w = 5; val s = 3
    val df = spark.range(1, n + 1).select(lit("k").as("key"), col("id").as("ord"),
      col("id").cast("double").as("value"))
    val out = Windows.sliding(df, "key", col("ord"), col("value"), w, s)
    assert(out.count() == ((n - w) / s + 1))
    // trailing-window sum at the first emission = 1+2+3+4+5
    assert(out.orderBy("ord").select("w_sum").as[Double].head() == 15.0)
  }

  test("sequence join pairs i-th left with i-th right per key, unpaired drop") {
    val left = Seq(("a", 1L, "l1"), ("a", 3L, "l2"), ("a", 9L, "l3"), ("b", 1L, "l1"))
      .toDF("key", "ord", "tag")
    val right = Seq(("a", 2L, "r1"), ("a", 4L, "r2"), ("c", 1L, "r1"))
      .toDF("key", "ord", "tag")
    val out = Joins.sequenceJoin(left, right, "key", "ord", "ord")
      .select("l_key", "_seq", "l_tag", "r_tag").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    assert(out == Set(("a", 1, "l1", "r1"), ("a", 2, "l2", "r2")))
  }

  test("sampleFractions: per-group rates hit targets on sequential ids; draw deterministic") {
    // sequential ids are the adversarial input: an affine hash would
    // put them in one contiguous threshold window (all-or-nothing)
    val df = (0L until 20000L).map(i => (if (i % 2 == 0) "a" else "b", i)).toDF("grp", "id")
    def run() = Shedding.sampleFractions(df, "grp", "id", Map("a" -> 0.5), defaultFraction = 0.1)
    val counts = run().groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val aRate = counts.getOrElse("a", 0L) / 10000.0
    val bRate = counts.getOrElse("b", 0L) / 10000.0
    assert(math.abs(aRate - 0.5) < 0.03, s"group a rate $aRate, want ~0.5")
    assert(math.abs(bRate - 0.1) < 0.02, s"group b rate $bRate, want ~0.1")
    val s1 = run().select("id").as[Long].collect().toSet
    val s2 = run().select("id").as[Long].collect().toSet
    assert(s1 == s2, "same ids must be drawn every run")
  }

  test("rangeJoin: bucketed plan ≡ naive non-equi join for any bucket width") {
    val rng = new scala.util.Random(7)
    // points and intervals over negative AND positive ordinals, with
    // interval lengths straddling every tested bucket width
    val pts = (1 to 300).map(i => ("k" + rng.nextInt(4), rng.nextLong(2000L) - 1000L, i.toLong))
      .toDF("key", "ord", "pid")
    val ivs = (1 to 60).map { j =>
      val s = rng.nextLong(2000L) - 1000L
      ("k" + rng.nextInt(4), s, s + rng.nextLong(300L) - 20L, j.toLong) // ~7% malformed (end < start)
    }.toDF("key", "s", "e", "iid")
    val naive = pts.join(ivs, pts("key") === ivs("key") &&
        col("ord") >= col("s") && col("ord") <= col("e"))
      .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture must produce matches")
    for (w <- Seq(1L, 7L, 64L, 5000L)) {
      val got = Joins.rangeJoin(pts, ivs, "key", "ord", "s", "e", bucketWidth = w)
        .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
      assert(got == naive, s"width $w: ${got.size} vs ${naive.size} pairs")
    }
  }

  test("intervalJoin: bucketed plan ≡ naive overlap join, duplicate-free, any width") {
    val rng = new scala.util.Random(11)
    def ivals(n: Int, tag: String) = (1 to n).map { i =>
      val s = rng.nextLong(2000L) - 1000L
      ("k" + rng.nextInt(4), s, s + rng.nextLong(250L) - 15L, i.toLong) // ~6% malformed
    }.toDF("key", s"${tag}s", s"${tag}e", s"${tag}id")
    val lhs = ivals(120, "l")
    val rhs = ivals(80, "r")
    // empty (malformed) intervals overlap nothing — part of the semantics
    val naive = lhs.filter(col("ls") <= col("le"))
      .join(rhs.filter(col("rs") <= col("re")),
        lhs("key") === rhs("key") && col("ls") <= col("re") && col("rs") <= col("le"))
      .select(col("lid"), col("rid")).as[(Long, Long)].collect().toList.sorted
    assert(naive.nonEmpty, "fixture must produce overlaps")
    for (w <- Seq(1L, 7L, 64L, 5000L)) {
      // LIST equality: a pair emitted once per shared bucket would fail here
      val got = Joins.intervalJoin(lhs, rhs, "key", "ls", "le", "rs", "re", bucketWidth = w)
        .select(col("lid"), col("rid")).as[(Long, Long)].collect().toList.sorted
      assert(got == naive, s"width $w: ${got.size} vs ${naive.size} pairs")
    }
  }

  test("rollingSlope: exact OLS on linear data, trailing-window locality, den=0 -> NULL") {
    import graft.operators.Windows
    // key a: value = 2.5 + 0.75·ord (exactly representable in cents)
    // for ords 0..9, then a level burst — the window must localize
    val a = (0 to 9).map(i => ("a", i.toLong, 2.5 + 0.75 * i)) ++
      (10 to 15).map(i => ("a", i.toLong, 10.0))
    // key b: all events at ONE ordinal — degenerate window
    val b = (0 to 7).map(i => ("b", 5L, i.toDouble))
    val df = (a ++ b).toDF("key", "ord", "v")
    val got = Windows.rollingSlope(df, "key", col("ord"), col("v"), windowSize = 4)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("ord"),
        Option(r.getAs[java.lang.Double]("slope")))).toList
    val aOut = got.filter(_._1 == "a").sortBy(_._2)
    assert(aOut.head._2 == 3L, "first complete window ends at the 4th row")
    // fully inside the linear ramp: slope exactly 0.75
    assert(aOut.filter(_._2 <= 9).forall(_._3.contains(0.75)), s"$aOut")
    // fully inside the flat burst: slope exactly 0
    assert(aOut.filter(_._2 >= 13).forall(_._3.contains(0.0)))
    assert(got.filter(_._1 == "b").forall(_._3.isEmpty),
      "identical ordinals degenerate the regression: NULL, never NaN")
  }

  test("fuzzySelfPairs ≡ naive all-pairs Levenshtein, incl. empty/1-char edges") {
    val rng = new scala.util.Random(13)
    // short strings over a 2-letter alphabet: natural distance-1 pairs
    // of every kind (equal, substitution, insertion, deletion), plus
    // the degenerate edges
    val strs = Seq("", "a", "b", "ab") ++
      (1 to 80).map(_ => (1 to (2 + rng.nextInt(4))).map(_ => ('a' + rng.nextInt(2)).toChar).mkString)
    val df = strs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "title")
    val naive = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.id") < col("y.id") &&
        levenshtein(col("x.title"), col("y.title")) <= 1)
      .select(col("x.id"), col("y.id")).as[(Long, Long)].collect().toList.sorted
    assert(naive.nonEmpty, "fixture must produce fuzzy matches")
    val got = Joins.fuzzySelfPairs(df, "id", "title", maxDist = 1)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toList.sorted
    assert(got == naive, s"${got.size} vs ${naive.size} pairs")
    // dist column is the exact edit distance
    val dists = Joins.fuzzySelfPairs(df, "id", "title").collect()
    assert(dists.forall(r => r.getAs[Long]("dist") <= 1))
  }

  test("pageRankFrom: every split point resumes bit-identically to the straight run") {
    import graft.operators.Graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val g = Graph.pageRank(e, "src", "dst")
    val straight = g.ranks(6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (split <- 1 to 5) {
      val first = g.ranks(split)
      val resumed = g.ranks(6 - split, init = Some(first))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(resumed == straight, s"split at $split must be exact: $resumed vs $straight")
    }
  }

  test("shortestPaths: hand graph — hops, min-cost, hop bound, unreachable absent") {
    import graft.operators.Graph
    // 5→1→2→3→4 with a w=10 shortcut 1→3 and a duplicate 1→2 edge
    val e = Seq((1L, 2L, 5L), (1L, 2L, 7L), (2L, 3L, 1L), (1L, 3L, 10L),
        (3L, 4L, 2L), (5L, 1L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unit weights = BFS hop count; 5 only reaches INTO the seed — absent
    val hops = m(Graph.shortestPaths(e, "src", "dst", seeds, maxHops = 4))
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L), s"got $hops")
    // weighted: duplicate edge keeps min (5 not 7); 1→2→3 (6) beats the
    // direct w=10 shortcut; 4 rides the 3-hop min-cost path (8)
    val w3 = m(Graph.shortestPaths(e, "src", "dst", seeds, maxHops = 3,
      weight = Some(col("w"))))
    assert(w3 == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 8L), s"got $w3")
    // the hop bound is real: at 2 hops node 4 only has the 12-cost
    // path through the shortcut
    val w2 = m(Graph.shortestPaths(e, "src", "dst", seeds, maxHops = 2,
      weight = Some(col("w"))))
    assert(w2(4L) == 12L && w2(3L) == 6L, s"got $w2")
    // maxHops = 0: seeds only
    assert(m(Graph.shortestPaths(e, "src", "dst", seeds, maxHops = 0))
      == Map(1L -> 0L))
  }

  test("pageRank: cycle symmetry, mass conservation, hub dominance, dangling redistribution") {
    import graft.operators.Graph
    // directed 4-cycle: perfect symmetry — every rank EXACTLY equal
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val cr = Graph.pageRank(cyc, "src", "dst").ranks(5).collect()
      .map(_.getAs[Double]("rank")).toSet
    assert(cr.size == 1, s"cycle ranks must be identical, got $cr")
    assert(math.abs(cr.head - 0.25) < 1e-6)

    // star into a dangling hub: hub outranks every leaf; dangling mass
    // redistributes so total stays ~1 (not leaking to 0.15-base only)
    val star = (1L to 10L).map(i => (i, 0L)).toDF("src", "dst")
    val sr = Graph.pageRank(star, "src", "dst").ranks(10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(sr(0L) > sr(1L) * 3, s"hub must dominate: ${sr(0L)} vs ${sr(1L)}")
    assert(cr.sum * 4 > 0.999 && sr.values.sum > 0.999 && sr.values.sum < 1.001,
      s"mass must be conserved, got ${sr.values.sum}")
    // leaves are symmetric — identical ranks
    assert((1L to 10L).map(sr).toSet.size == 1)

    // personalized restart: on the symmetric cycle, seeding node 1
    // breaks the tie. 40 iterations (10 full cycle periods — mass
    // rotates with period 4, so short runs leave a transient bulge
    // mid-cycle) land on the analytic fixed point
    // r1 = 0.15/(1 − 0.85⁴), r_{k+1} = 0.85·r_k.
    val pr = Graph.pageRank(cyc, "src", "dst",
        seeds = Some(Seq(Tuple1(1L)).toDF("node"))).ranks(40).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    val r1 = 0.15 / (1.0 - math.pow(0.85, 4))
    for ((n, want) <- Seq(1L -> r1, 2L -> r1 * 0.85,
        3L -> r1 * 0.85 * 0.85, 4L -> r1 * math.pow(0.85, 3)))
      // residual transient after 40 rounds is O(0.85^40 / (1-0.85^4)) ≈ 2e-3
      assert(math.abs(pr(n) - want) < 3e-3, s"node $n: ${pr(n)} vs analytic $want")
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L) && pr(3L) > pr(4L))
    assert(pr.values.sum > 0.999 && pr.values.sum < 1.001)

    // weighted: node 1 splits 9:1 between 2 and 3 — the heavy edge
    // pulls proportionally more rank; duplicate unit edges must sum
    val we = (Seq.fill(9)((1L, 2L)) ++ Seq((1L, 3L), (2L, 1L), (3L, 1L)))
      .map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val wr = Graph.pageRank(we, "src", "dst", weight = Some(col("w"))).ranks(20)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(wr(2L) > wr(3L) * 3, s"9:1 weights must skew the split: $wr")
    assert(wr.values.sum > 0.999 && wr.values.sum < 1.001)
  }

  test("hits: bipartite dominance, per-side mass conservation, pure roles") {
    import graft.operators.Graph
    // 3 hubs → authority 10; hub 1 also → 11. Node 10 gathers from
    // three hubs, 11 from one — authority order; hub 1 points at two
    // authorities — hub order.
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L)).toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", iters = 3).collect()
      .map(x => x.getAs[Long]("node") -> (x.getAs[Double]("hub"), x.getAs[Double]("auth")))
      .toMap
    assert(r(10L)._2 > r(11L)._2, s"auth(10) must beat auth(11): $r")
    assert(r(1L)._1 > r(2L)._1, s"hub(1) must beat hub(2): $r")
    assert(r(2L)._1 == r(3L)._1, "symmetric hubs must tie exactly")
    // pure roles in a bipartite graph: sources have auth 0, sinks hub 0
    assert(Seq(1L, 2L, 3L).forall(r(_)._2 == 0.0))
    assert(Seq(10L, 11L).forall(r(_)._1 == 0.0))
    // each side L1-normalizes to ≈ 1 (nano-unit rounding only)
    val hs = r.values.map(_._1).sum; val as = r.values.map(_._2).sum
    assert(hs > 0.999 && hs < 1.001 && as > 0.999 && as < 1.001, s"$hs / $as")
  }

  test("modularity: planted two-triangle partition scores 1/2, one-blob scores 0") {
    import graft.operators.Graph
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L))
      .toDF("src", "dst")
    val goodLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "label")
    val good = Graph.modularity(tri, "src", "dst", goodLabels).collect()
    // two communities, each e_c=3, d_c=6, m=6: Q_c = 3/6 − (6/12)² = 1/4
    assert(good.length == 2)
    for (row <- good) {
      assert(row.getAs[Long]("internal_edges") == 3L)
      assert(row.getAs[Long]("degree_sum") == 6L)
      assert(row.getAs[Double]("q_contrib") == 0.25)
      assert(row.getAs[Double]("q_total") == 0.5)
    }
    // everything in one community: e_c = m → Q = 1 − 1 = 0 exactly
    val blob = (1L to 6L).map((_, 9L)).toDF("node", "label")
    val flat = Graph.modularity(tri, "src", "dst", blob).collect()
    assert(flat.length == 1 && flat.head.getAs[Double]("q_total") == 0.0)
    // nodes missing from the label frame fall back to singleton
    // communities of themselves (here: 4,5,6 each alone — their
    // triangle's edges all cross, so internal_edges = 0)
    val half = Graph.modularity(tri, "src", "dst",
      goodLabels.filter(col("node") <= 3L)).collect()
    assert(half.length == 4)
    val singles = half.filter(_.getAs[Long]("label") >= 4L)
    assert(singles.forall(_.getAs[Long]("internal_edges") == 0L))
  }

  test("ksTest: hand example — max |nB·cumA − nA·cumB| with smallest attaining value") {
    import graft.operators.StatTests
    // A = {1,2,3}, B = {2,4}: diffs |2·cumA − 3·cumB| = 2,1,3,0 → max 3 at v=3
    val df = Seq((1L, true), (2L, true), (3L, true), (2L, false), (4L, false))
      .toDF("v", "a")
    val r = StatTests.ksTest(df, "v", col("a")).collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("d_num") == 3.0)
    assert(r.getAs[Long]("d_at") == 3L)
    assert(r.getAs[Double]("d") == 0.5)
    // A beats B in 1 pair (3>2), loses 4 (1<2, 1<4, 2<4, 3<4) → (1−4)/6
    assert(r.getAs[Double]("cliffs_delta") == -0.5)
  }

  test("ksByKey: per-key fan-out matches the global test key by key; empty side NULL") {
    import graft.operators.StatTests
    val perKey = Seq(
      ("k1", 1L, true), ("k1", 2L, true), ("k1", 3L, true), ("k1", 2L, false), ("k1", 4L, false),
      ("k2", 5L, true), ("k2", 6L, true), ("k2", 5L, false), ("k2", 6L, false),
      ("k3", 9L, true))
    val r = StatTests.ksByKey(perKey.toDF("k", "v", "a"), "k", "v", col("a"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.size == 3)
    assert(r("k1").getAs[Double]("d") == 0.5 && r("k1").getAs[Double]("cliffs_delta") == -0.5)
    assert(r("k1").getAs[Long]("d_at") == 3L)
    assert(r("k2").getAs[Double]("d") == 0.0, "identical per-key samples: D = 0")
    assert(r("k3").isNullAt(r("k3").fieldIndex("d")), "one-sided key: NULL, not 0/0")
    // each key's row equals the global test run on that key alone
    val solo = StatTests.ksTest(
      perKey.filter(_._1 == "k1").map(t => (t._2, t._3)).toDF("v", "a"), "v", col("a"))
      .collect()(0)
    assert(solo.getAs[Double]("d_num") == r("k1").getAs[Double]("d_num"))
    assert(solo.getAs[Double]("cliffs_delta") == r("k1").getAs[Double]("cliffs_delta"))
  }

  test("wassersteinByKey / psiByKey: fan-outs match the global operators key by key") {
    import graft.operators.StatTests
    val perKey = Seq(
      ("k1", 0L, true), ("k1", 10L, true), ("k1", 5L, false), ("k1", 5L, false),
      ("k2", 3L, true), ("k2", 3L, false))
    val w = StatTests.wassersteinByKey(perKey.toDF("k", "v", "a"), "k", "v", col("a"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(w("k1").getAs[Double]("w1") == 5.0, "{0,10} vs {5,5} moves 5 within its key")
    assert(w("k2").getAs[Double]("w1") == 0.0)
    val soloW = StatTests.wasserstein(
      perKey.filter(_._1 == "k1").map(t => (t._2, t._3)).toDF("v", "a"), "v", col("a"))
      .collect()(0)
    assert(soloW.getAs[Double]("w1_num") == w("k1").getAs[Double]("w1_num"))
    // psi fan-out: key p1 is the OperatorSpec symmetric-swap example,
    // key p2 identical sides → psi 0; each equals the global psi run solo
    val psiRows = (Seq.fill(8)(("p1", 0L, true)) ++ Seq.fill(2)(("p1", 0L, false)) ++
      Seq.fill(2)(("p1", 1L, true)) ++ Seq.fill(8)(("p1", 1L, false)) ++
      Seq.fill(3)(("p2", 0L, true)) ++ Seq.fill(3)(("p2", 0L, false)))
    val ps = StatTests.psiByKey(psiRows.toDF("k", "bin", "c"), "k", col("bin"), col("c"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(ps("p1").getAs[Long]("bins") == 2L)
    assert(ps("p1").getAs[Double]("psi") == 1.098612, "the symmetric-swap hand value")
    assert(ps("p2").getAs[Double]("psi") == 0.0)
    val soloP = StatTests.psi(
      psiRows.filter(_._1 == "p1").map(t => (t._2, t._3)).toDF("bin", "c"),
      col("bin"), col("c")).collect()(0)
    assert(soloP.getAs[Double]("psi") == ps("p1").getAs[Double]("psi"))
  }

  test("FromCounts scorers re-aggregate split cells (the chiSquareByKeyFromCounts contract)") {
    import graft.operators.StatTests
    // the same (k, v) cell split across two rows must sum, not count
    // as two categories in the smoothing totals / cumulative CDFs
    val whole = Seq(("k1", 1L, 3L, 1L), ("k1", 2L, 0L, 2L), ("k2", 1L, 1L, 1L))
    val split = Seq(("k1", 1L, 2L, 0L), ("k1", 1L, 1L, 1L), ("k1", 2L, 0L, 2L),
      ("k2", 1L, 1L, 0L), ("k2", 1L, 0L, 1L))
    def cmp(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            cols: Seq[String]): Unit = {
      val a = f(whole.toDF("k", "v", "c_a", "c_b")).select(cols.map(col): _*).collect().toSeq
      val b = f(split.toDF("k", "v", "c_a", "c_b")).select(cols.map(col): _*).collect().toSeq
      assert(a == b, s"split rows must score as summed cells: $a vs $b")
    }
    cmp(StatTests.ksByKeyFromCounts, Seq("key", "n_a", "n_b", "d", "cliffs_delta"))
    cmp(StatTests.wassersteinByKeyFromCounts, Seq("key", "n_a", "n_b", "w1"))
    cmp(df => StatTests.psiByKeyFromCounts(df.withColumnRenamed("v", "bin")
        .withColumnRenamed("c_a", "c_cur").withColumnRenamed("c_b", "c_ref")),
      Seq("key", "bins", "psi"))
    cmp(df => StatTests.jsdByKeyFromCounts(df.withColumn("cat", col("v").cast("string"))
        .withColumnRenamed("c_a", "c_cur").withColumnRenamed("c_b", "c_ref")),
      Seq("key", "cats", "jsd"))
  }

  test("spearmanByKey: fan-out matches the global operator key by key; constant side NULL") {
    import graft.operators.StatTests
    val rows = Seq(
      ("k1", 1L, 10L), ("k1", 2L, 20L), ("k1", 3L, 35L), ("k1", 4L, 31L),
      ("k2", 1L, 9L), ("k2", 2L, 5L), ("k2", 3L, 5L), ("k2", 4L, 1L),
      ("k3", 1L, 7L), ("k3", 2L, 7L)) // constant y: rho undefined
    val r = StatTests.spearmanByKey(rows.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.size == 3)
    rows.map(_._1).distinct.filter(_ != "k3").foreach { k =>
      val solo = StatTests.spearman(
        rows.filter(_._1 == k).map(t => (t._2, t._3)).toDF("x", "y"), "x", "y")
        .collect()(0)
      assert(r(k).getAs[Long]("n") == solo.getAs[Long]("n") &&
        r(k).getAs[Double]("rho") == solo.getAs[Double]("rho"),
        s"key $k must equal the global test run solo")
    }
    assert(r("k1").getAs[Double]("rho") > 0 && r("k2").getAs[Double]("rho") < 0)
    assert(r("k3").isNullAt(r("k3").fieldIndex("rho")), "constant side: NULL rho")
  }

  test("chiSquareByKey / jsdByKey: fan-outs match the global operators key by key") {
    import graft.operators.StatTests
    // k1: 2x2 with real association; k2: identical rows (chi2 = 0);
    // k3: one slice only (dof = 0, NULL cramers_v)
    val rows = Seq(
      ("k1", "s1", "a"), ("k1", "s1", "a"), ("k1", "s1", "b"),
      ("k1", "s2", "a"), ("k1", "s2", "b"), ("k1", "s2", "b"),
      ("k2", "s1", "a"), ("k2", "s1", "b"), ("k2", "s2", "a"), ("k2", "s2", "b"),
      ("k3", "s1", "a"), ("k3", "s1", "b"))
    val r = StatTests.chiSquareByKey(rows.toDF("k", "s", "c"), "k", "s", "c")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.size == 3)
    for (k <- Seq("k1", "k2")) {
      val solo = StatTests.chiSquare(
        rows.filter(_._1 == k).map(t => (t._2, t._3)).toDF("s", "c"), "s", "c")
        .collect().head
      assert(solo.getAs[Double]("chi2") == r(k).getAs[Double]("chi2"), k)
      assert(solo.getAs[Long]("dof") == r(k).getAs[Long]("dof"), k)
      assert(solo.getAs[Double]("cramers_v") == r(k).getAs[Double]("cramers_v"), k)
    }
    assert(r("k2").getAs[Double]("chi2") == 0.0)
    assert(r("k3").getAs[Long]("dof") == 0L &&
      r("k3").isNullAt(r("k3").fieldIndex("cramers_v")),
      "single-slice key: dof 0, NULL cramers_v")
    // the loud grid guard trips on a mis-binned category column
    val wide = (1 to 100).flatMap(i => Seq(("w", "s1", s"c$i"), ("w", "s2", s"c$i")))
      .toDF("k", "s", "c")
    val err = intercept[IllegalArgumentException] {
      StatTests.chiSquareByKey(
        wide.unionAll((1 to 41).map(i => ("w", s"x$i", "c1")).toDF("k", "s", "c")),
        "k", "s", "c")
    }
    assert(err.getMessage.contains("4096"), err.getMessage)
    // jsd fan-out ≡ global per slice
    val jrows = Seq(
      ("k1", "a", true), ("k1", "a", true), ("k1", "b", true),
      ("k1", "a", false), ("k1", "b", false), ("k1", "b", false),
      ("k2", "a", true), ("k2", "a", false))
    val jr = StatTests.jsdByKey(jrows.toDF("k", "cat", "c"), "k", "cat", col("c"))
      .collect().map(x => x.getString(0) -> x).toMap
    for (k <- Seq("k1", "k2")) {
      val solo = StatTests.jsDivergence(
        jrows.filter(_._1 == k).map(t => (t._2, t._3)).toDF("cat", "c"), "cat", col("c"))
        .collect().head
      assert(solo.getAs[Double]("jsd") == jr(k).getAs[Double]("jsd"), k)
      assert(solo.getAs[Double]("kl_cur_ref") == jr(k).getAs[Double]("kl_cur_ref"), k)
      assert(solo.getAs[Double]("kl_ref_cur") == jr(k).getAs[Double]("kl_ref_cur"), k)
    }
    assert(jr("k2").getAs[Double]("jsd") == 0.0, "identical sides: zero divergence")
  }

  test("StatTests null policy: tests run over observed values only") {
    import graft.operators.StatTests
    val withNulls = Seq[(java.lang.Long, java.lang.Boolean)](
      (1L, true), (2L, true), (3L, true), (2L, false), (4L, false),
      (null, true), (7L, null)).toDF("v", "a")
    val clean = Seq((1L, true), (2L, true), (3L, true), (2L, false), (4L, false))
      .toDF("v", "a")
    assert(StatTests.ksTest(withNulls, "v", col("a")).collect().toSeq ==
      StatTests.ksTest(clean, "v", col("a")).collect().toSeq)
    assert(StatTests.wasserstein(withNulls, "v", col("a")).collect().toSeq ==
      StatTests.wasserstein(clean, "v", col("a")).collect().toSeq)
    val chiNull = Seq[(String, String)](("X", "a"), (null, "a")).toDF("s", "c")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.StatTests.chiSquare(chiNull, "s", "c")
    }
    assert(ex.getMessage.contains("NULL"), "chiSquare must reject NULLs loudly")
  }

  test("ksTest: identical samples have D = 0") {
    import graft.operators.StatTests
    val df = Seq((1L, true), (2L, true), (1L, false), (2L, false)).toDF("v", "a")
    val r = StatTests.ksTest(df, "v", col("a")).collect()(0)
    assert(r.getAs[Double]("d_num") == 0.0 && r.getAs[Double]("d") == 0.0)
  }

  test("wasserstein: hand EMD — {0,10} vs {5,5} moves 5; point shift moves its distance") {
    import graft.operators.StatTests
    val df = Seq((0L, true), (10L, true), (5L, false), (5L, false)).toDF("v", "a")
    val r = StatTests.wasserstein(df, "v", col("a")).collect()(0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("w1_num") == 20.0)
    assert(r.getAs[Double]("w1") == 5.0)
    val shift = StatTests.wasserstein(
      Seq((0L, true), (7L, false)).toDF("v", "a"), "v", col("a")).collect()(0)
    assert(shift.getAs[Double]("w1") == 7.0, "point mass: W1 = shift distance")
    val same = StatTests.wasserstein(
      Seq((3L, true), (3L, false)).toDF("v", "a"), "v", col("a")).collect()(0)
    assert(same.getAs[Double]("w1") == 0.0, "identical distributions: W1 = 0")
  }

  test("chiSquare: hand 2x2 with an absent cell densified to observed 0") {
    import graft.operators.StatTests
    val rows = Seq.fill(10)(("X", "catA")) ++ Seq.fill(10)(("X", "catB")) ++
      Seq.fill(20)(("Y", "catA"))
    val r = StatTests.chiSquare(rows.toDF("s", "c"), "s", "c").collect()
    assert(r.length == 4, "2 slices x 2 cats densified")
    val yb = r.find(x => x.getString(0) == "Y" && x.getString(1) == "catB").get
    assert(yb.getAs[Long]("observed") == 0L)
    assert(yb.getAs[Double]("expected") == 5.0)
    assert(r.forall(_.getAs[Long]("dof") == 1L))
    // 25/15 + 25/5 + 25/15 + 25/5, per-cell micro floor: 2·1.666667 + 2·5.0
    assert(r.forall(x => math.abs(x.getAs[Double]("chi2") - 13.333334) < 1e-9))
    // V = sqrt(chi2 / (N·min(S−1,C−1))) = sqrt(13.333334/40)
    assert(r.forall(x =>
      math.abs(x.getAs[Double]("cramers_v") - math.sqrt(13.333334 / 40.0)) < 1e-12))
  }

  test("anovaF: hand decomposition — SSB 400, SSW 100, F = 8 exactly") {
    import graft.operators.StatTests
    val df = Seq(("A", 10L), ("A", 20L), ("B", 30L), ("B", 40L)).toDF("g", "v")
    val r = StatTests.anovaF(df, "g", "v").collect()(0)
    assert(r.getAs[Long]("groups") == 2L && r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("ss_between") == 400.0)
    assert(r.getAs[Double]("ss_within") == 100.0)
    assert(r.getAs[Long]("df1") == 1L && r.getAs[Long]("df2") == 2L)
    assert(r.getAs[Double]("f") == 8.0)
  }

  test("anovaF: degenerate inputs yield NULL f, never 0/0") {
    import graft.operators.StatTests
    val one = StatTests.anovaF(Seq(("A", 1L), ("A", 2L)).toDF("g", "v"), "g", "v").collect()(0)
    assert(one.isNullAt(one.fieldIndex("f")), "single group: df1 = 0")
    val flat = StatTests.anovaF(
      Seq(("A", 5L), ("A", 5L), ("B", 7L), ("B", 7L)).toDF("g", "v"), "g", "v").collect()(0)
    assert(flat.getAs[Double]("ss_within") == 0.0)
    assert(flat.isNullAt(flat.fieldIndex("f")), "zero within-variance")
  }

  test("mutualInfo: perfect dependence ln(2) nats; independence exactly 0") {
    import graft.operators.StatTests
    val dep = Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y"))
    val rd = StatTests.mutualInfo(dep.toDF("s", "l"), "s", "l").collect()
    assert(rd.length == 2, "absent cells contribute 0 and are not emitted")
    assert(rd.forall(x => math.abs(x.getAs[Double]("mi") - 0.693148) < 1e-9))
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
    val ri = StatTests.mutualInfo(ind.toDF("s", "l"), "s", "l").collect()
    assert(ri.forall(_.getAs[Double]("mi") == 0.0))
  }

  test("bootstrapMean: 40 deterministic replicates, nearest-rank 95% band") {
    import graft.operators.StatTests
    val df = (1L to 200L).map(i => (i, 100L + (i % 7))).toDF("id", "v")
    val r = StatTests.bootstrapMean(df, col("id"), "v").collect()
    assert(r.length == 40)
    val means = r.map(_.getAs[Double]("mean")).sorted
    assert(r.forall(_.getAs[Double]("ci_lo") == means(0)), "rank ceil(0.025·40) = 1")
    assert(r.forall(_.getAs[Double]("ci_hi") == means(38)), "rank ceil(0.975·40) = 39")
    assert(r.forall(x => x.getAs[Long]("n_drawn") > 140 && x.getAs[Long]("n_drawn") < 260),
      "Poisson(1) multiplicities keep each replicate near the corpus size")
    val again = StatTests.bootstrapMean(df, col("id"), "v").collect()
      .map(_.getAs[Double]("mean")).toSeq
    assert(again == r.map(_.getAs[Double]("mean")).toSeq, "hash draws are deterministic")
  }

  test("psi: symmetric swap — Laplace-smoothed terms sum both sides") {
    import graft.operators.StatTests
    // bin0: cur 8 / ref 2, bin1: cur 2 / ref 8 → p=(c+1)/12
    // term each = 0.5·ln(3) ≈ 0.549306 → psi ≈ 1.098612
    val rows = Seq.fill(8)((0L, true)) ++ Seq.fill(2)((0L, false)) ++
      Seq.fill(2)((1L, true)) ++ Seq.fill(8)((1L, false))
    val r = StatTests.psi(rows.toDF("bin", "c"), col("bin"), col("c"))
      .collect().sortBy(_.getLong(0))
    assert(r.length == 2)
    assert(r(0).getAs[Double]("p_cur") == 0.75 && r(0).getAs[Double]("p_ref") == 0.25)
    assert(r(0).getAs[Double]("term") == 0.549306)
    assert(r.forall(x => x.getAs[Double]("psi") == 1.098612))
  }

  test("jsDivergence: symmetric swap — equal KL both ways, JSD hand value, identity zero") {
    import graft.operators.StatTests
    val rows = Seq.fill(8)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(2)(("b", true)) ++ Seq.fill(8)(("b", false))
    val r = StatTests.jsDivergence(rows.toDF("cat", "c"), "cat", col("c")).collect()
    assert(r.length == 2)
    // p = (0.75, 0.25) vs q = (0.25, 0.75): KL = 0.5·ln3 both ways
    assert(r.forall(_.getAs[Double]("kl_cur_ref") == 0.549306))
    assert(r.forall(_.getAs[Double]("kl_ref_cur") == 0.549306))
    assert(r.forall(x => math.abs(x.getAs[Double]("jsd") - 0.130812) < 1e-9))
    val same = StatTests.jsDivergence(
      (Seq.fill(3)(("a", true)) ++ Seq.fill(3)(("a", false))).toDF("cat", "c"),
      "cat", col("c")).collect()
    assert(same.forall(x => x.getAs[Double]("jsd") == 0.0 &&
      x.getAs[Double]("kl_cur_ref") == 0.0))
  }

  test("psi: identical distributions score ~0 (p=q terms exactly 0)") {
    import graft.operators.StatTests
    val rows = Seq.fill(5)((0L, true)) ++ Seq.fill(5)((0L, false)) ++
      Seq.fill(3)((1L, true)) ++ Seq.fill(3)((1L, false))
    val r = StatTests.psi(rows.toDF("bin", "c"), col("bin"), col("c")).collect()
    assert(r.forall(_.getAs[Double]("psi") == 0.0))
  }

  test("lDiversity: unanimous class flagged even when k-anonymous") {
    import graft.operators.Profile
    // class (q=1): 5 rows, all "x" → k-anonymous at 5 but NOT 2-diverse
    // class (q=2): 3 rows, two values → 2-diverse
    val df = (Seq.fill(5)((1L, "x")) ++ Seq((2L, "a"), (2L, "b"), (2L, "a")))
      .toDF("q", "s")
    val r = Profile.lDiversity(df, Seq("q"), "s", l = 2).collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("class_size") == 5L &&
      r(0).getAs[Long]("distinct_sensitive") == 1L && !r(0).getAs[Boolean]("l_diverse"))
    assert(r(1).getAs[Long]("distinct_sensitive") == 2L && r(1).getAs[Boolean]("l_diverse"))
  }

  test("benford: string-head digits, densified 1..9, Nigrini MAD; nonpositive excluded") {
    import graft.operators.StatTests
    val df = Seq(1L, 1L, 19L, 2L, 300L, -5L, 0L).toDF("v")
    val r = StatTests.benford(df, "v").collect()
    assert(r.length == 9 && r.map(_.getLong(0)).toSeq == (1L to 9L))
    assert(r(0).getAs[Long]("observed") == 3L, "1, 1, 19 lead with 1")
    assert(r(1).getAs[Long]("observed") == 1L && r(2).getAs[Long]("observed") == 1L)
    assert(r(3).getAs[Long]("observed") == 0L, "absent digits densify to 0")
    assert(r(0).getAs[Double]("p_observed") == 0.6)
    val madExp = (0.298970 + 0.023909 + 0.075061 + 0.096910 + 0.079181 +
      0.066947 + 0.057992 + 0.051153 + 0.045757) / 9.0
    assert(r.forall(x => math.abs(x.getAs[Double]("mad") - madExp) < 1e-12))
  }

  test("concentration: hand HHI / effective groups / Gini on a 4-vs-1 split") {
    import graft.operators.StatTests
    val df = (Seq.fill(4)("A") ++ Seq("B")).toDF("g")
    val r = StatTests.concentration(df, "g").collect()(0)
    assert(r.getAs[Long]("groups") == 2L && r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("hhi") == 17.0 / 25.0)
    assert(r.getAs[Double]("eff_groups") == 25.0 / 17.0)
    assert(r.getAs[Double]("gini") == 3.0 / 10.0, "(2·(1·1+2·4) − 3·5)/(2·5)")
    val uniform = StatTests.concentration(
      (Seq.fill(3)("A") ++ Seq.fill(3)("B")).toDF("g"), "g").collect()(0)
    assert(uniform.getAs[Double]("gini") == 0.0, "uniform spread: Gini 0")
    assert(uniform.getAs[Double]("eff_groups") == 2.0)
  }

  test("spearman: monotone = ±1 exactly; tie-averaged hand value; constant side NULL") {
    import graft.operators.StatTests
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(StatTests.spearman(up, "x", "y").collect()(0).getAs[Double]("rho") == 1.0)
    val down = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(StatTests.spearman(down, "x", "y").collect()(0).getAs[Double]("rho") == -1.0)
    // ties: rx = (3,3,5), ry = (1,3,5) → ρ = 12/√192 = √3/2
    val tied = StatTests.spearman(
      Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("x", "y"), "x", "y").collect()(0)
    assert(math.abs(tied.getAs[Double]("rho") - math.sqrt(3.0) / 2.0) < 1e-12)
    val const = StatTests.spearman(
      Seq((1L, 7L), (2L, 7L)).toDF("x", "y"), "x", "y").collect()(0)
    assert(const.isNullAt(const.fieldIndex("rho")), "constant side: NULL not 0/0")
  }

  test("correlations: one-pass matrix — exact ±1, NULL for constant columns, ordered pairs") {
    import graft.operators.StatTests
    val df = Seq((1L, 2L, 5L), (2L, 4L, 5L), (3L, 6L, 5L)).toDF("a", "b", "c")
    val r = StatTests.correlations(df, Seq("a", "b", "c")).collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(r(0).getAs[Double]("corr") == 1.0, "perfect linear: exactly 1")
    assert(r(1).isNullAt(r(1).fieldIndex("corr")) && r(2).isNullAt(r(2).fieldIndex("corr")),
      "constant column pairs: NULL")
    assert(r.forall(_.getAs[Long]("n") == 3L))
  }

  test("cusum: hand fold — high/low alarms, restart, per-key isolation") {
    import graft.operators.Windows
    // target 10, slack 2, threshold 15. A drifts high then recovers;
    // B drifts low.
    val df = Seq(
      ("A", 1L, 10L), ("A", 2L, 20L), ("A", 3L, 20L),
      ("A", 4L, 10L), ("A", 5L, 1L), ("A", 6L, 1L),
      ("B", 1L, 1L), ("B", 2L, 1L), ("B", 3L, 1L)
    ).toDF("k", "o", "v")
    val r = Windows.cusum(df, "k", "o", "v", target = 10L, slack = 2L, threshold = 15L)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        ((x.getAs[Long]("cusum_pos"), x.getAs[Long]("cusum_neg"), x.getAs[Long]("alarm"))))
      .toMap
    assert(r.size == 9)
    assert(r(("A", 2L)) == ((8L, 0L, 0L)))
    assert(r(("A", 3L)) == ((16L, 0L, 1L)), "second +8 excursion crosses 15: high alarm")
    assert(r(("A", 4L)) == ((0L, 0L, 0L)), "alarm restarts both sides")
    assert(r(("A", 6L)) == ((0L, 14L, 0L)), "low side accumulates, below threshold")
    assert(r(("B", 3L)) == ((0L, 21L, -1L)), "B's low drift alarms independently of A")
  }

  test("cusum: NULL key/ord/value rows are dropped, fold unaffected") {
    import graft.operators.Windows
    val df = Seq(
      (Option("A"), Option(1L), Option(10L)),
      (None: Option[String], Option(2L), Option(99L)),  // null key: dropped
      (Option("A"), None: Option[Long], Option(99L)),   // null ord: dropped
      (Option("A"), Option(3L), None: Option[Long]),    // null value: dropped
      (Option("A"), Option(4L), Option(20L))
    ).toDF("k", "o", "v")
    val r = Windows.cusum(df, "k", "o", "v", target = 10L, slack = 2L, threshold = 15L)
      .collect()
    assert(r.length == 2, "three NULL-bearing rows dropped up front")
    val byOrd = r.map(x => x.getLong(1) ->
      ((x.getAs[Long]("cusum_pos"), x.getAs[Long]("cusum_neg"), x.getAs[Long]("alarm")))).toMap
    assert(byOrd(1L) == ((0L, 0L, 0L)), "on-target value moves neither side")
    assert(byOrd(4L) == ((8L, 0L, 0L)),
      "fold over surviving rows only — the 99-valued null rows never contribute")
  }

  test("kaplanMeier: censored keys leave the risk set without counting as churn") {
    import graft.operators.Funnel
    // periods 0..10, grace 2 → churn iff last < 8. Lifetimes:
    // F dur0 churn; A,C,D dur2 churn; E dur4 CENSORED (last=9);
    // B dur10 CENSORED (last=10).
    val df = Seq(
      ("A", 0L), ("A", 2L), ("B", 0L), ("B", 10L), ("C", 1L), ("C", 3L),
      ("D", 2L), ("D", 4L), ("E", 5L), ("E", 9L), ("F", 0L)
    ).toDF("k", "m")
    val r = Funnel.kaplanMeier(df, "k", col("m"), gracePeriods = 2L)
      .collect().map(x => x.getAs[Long]("t") ->
        ((x.getAs[Long]("n_risk"), x.getAs[Long]("churned"), x.getAs[Double]("survival"))))
      .toMap
    assert(r.size == 11) // t = 0..10, dense
    // hand fold in nano-units: t0 floor(1e9*5/6+.5)=833333333, then
    // t2 floor(...*2/5+.5)=333333333, flat afterwards
    assert(r(0L) == ((6L, 1L, 0.833333333)))
    assert(r(1L) == ((5L, 0L, 0.833333333)))
    assert(r(2L) == ((5L, 3L, 0.333333333)))
    // E's censoring at t=4 shrinks the risk set with NO survival drop
    assert(r(4L) == ((2L, 0L, 0.333333333)))
    assert(r(5L) == ((1L, 0L, 0.333333333)))
    assert(r(10L) == ((1L, 0L, 0.333333333)))
    assert(r.values.map(_._2).sum == 4L) // A,C,D,F churned; B,E never
  }

  test("nelsonAalen: hand-folded cumulative hazard; censored keys leave risk set silently") {
    import graft.operators.Funnel
    // obsEnd 10, grace 2 → censored iff last >= 8. Lifetimes:
    // A t=3 churn, B t=10 censored, C t=2 churn, D t=0 churn,
    // E t=3 censored
    val df = Seq(("a", 0L), ("a", 3L), ("b", 0L), ("b", 10L), ("c", 2L), ("c", 4L),
      ("d", 5L), ("e", 6L), ("e", 9L)).toDF("k", "m")
    val r = Funnel.nelsonAalen(df, "k", col("m"), gracePeriods = 2L)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r.size == 11)
    assert(r(0L) == ((5L, 1L, 0.2)), "D churns at t=0 out of 5 at risk")
    assert(r(1L) == ((4L, 0L, 0.2)), "hazard is flat through event-free periods")
    assert(r(2L) == ((4L, 1L, 0.45)), "0.2 + 1/4")
    assert(r(3L) == ((3L, 1L, 0.783333333)),
      "A churns, E censors at t=3: one death out of 3, E leaves silently")
    assert(r(4L) == ((1L, 0L, 0.783333333)))
    assert(r(10L) == ((1L, 0L, 0.783333333)), "B's censored tail adds no hazard")
    // hazard is additive and non-decreasing, and agrees with KM's
    // death/risk schedule (same lifetime table underneath)
    val km = Funnel.kaplanMeier(df, "k", col("m"), gracePeriods = 2L)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(km.keySet == r.keySet &&
      km.forall { case (t, (n, d)) => (r(t)._1, r(t)._2) == ((n, d)) })
  }

  test("louvainMoves: recovers the planted two-triangle partition; parity breaks swaps") {
    import graft.operators.Graph
    // two triangles joined by a bridge (3-4): the planted partition is
    // {1,2,3} / {4,5,6}; hand-traced — parity rounds reach it in 4 and
    // the community labels are 2 and 6.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r4 = Graph.louvainMoves(e, "src", "dst", iters = 4).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    assert(r4 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L), s"$r4")
    // fixed point: more rounds change nothing (early-exit also covers this)
    val r10 = Graph.louvainMoves(e, "src", "dst", iters = 10).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    assert(r10 == r4)
    // the partition audits to positive modularity
    val labs = Graph.louvainMoves(e, "src", "dst", iters = 4)
    val q = Graph.modularity(e, "src", "dst", labs).collect()
    assert(q.head.getAs[Double]("q_total") > 0.3, q.mkString(","))
    // a pure swap shape (single edge): naive sync moves would flip
    // 1↔2 forever; parity must settle both nodes into ONE community
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    val pr = Graph.louvainMoves(pair, "src", "dst", iters = 6).collect()
      .map(x => x.getAs[Long]("label")).distinct
    assert(pr.length == 1, s"swap pair must merge, got labels $pr")
  }

  test("pageRankDelta: fixed-iters ≡ resume-on-mutated-graph; warm start converges in fewer rounds") {
    import graft.operators.Graph
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val adds = Seq((5L, 1L)).toDF("src", "dst")
    val rems = Seq((4L, 5L)).toDF("src", "dst")
    val g = Graph.pageRank(base, "src", "dst")
    val init = g.ranks(5)
    // the delta run IS a resume on the hand-mutated edge list
    val mutated = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (5L, 4L), (5L, 1L))
      .toDF("src", "dst")
    val gm = g.mutate(adds, rems)
    val viaDelta = gm.ranks(3, init = Some(init))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaFrom = Graph.pageRank(mutated, "src", "dst").ranks(3, init = Some(init))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaDelta == viaFrom, "delta application + warm start must equal resume on mutated graph")
    // a delta on a weighted graph is out of mutate's scope: fail loud
    intercept[IllegalArgumentException](
      Graph.pageRank(base.withColumn("w", lit(1L)), "src", "dst", weight = Some(col("w")))
        .mutate(adds, rems))
    // warm-start economy: converged base ranks reach the tolerance on
    // the mutated graph in strictly fewer rounds than a cold start
    val (convergedBase, _) = g.converge(tolNano = 1000L, maxIters = 50)
    val (warmRanks, warmRounds) =
      gm.converge(tolNano = 1000000L, maxIters = 50, init = Some(convergedBase))
    val (coldRanks, coldRounds) = gm.converge(tolNano = 1000000L, maxIters = 50)
    assert(warmRounds < coldRounds,
      s"warm start must converge faster: warm $warmRounds vs cold $coldRounds rounds")
    // both land on the same fixed point to within the tolerance
    val w = warmRanks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val c = coldRanks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet == c.keySet)
    w.foreach { case (n, v) => assert(math.abs(v - c(n)) < 1e-2, s"node $n: $v vs ${c(n)}") }
  }

  test("harmonicCentrality: exact with uncapped sketches; maxHops=1 is the degree") {
    import graft.operators.Graph
    // path 1-2-3: H(1) = 1 + 1/2 = 1.5, H(2) = 2, H(3) = 1.5
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val hp = Graph.harmonicCentrality(path, "src", "dst", maxHops = 2, k = 32)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(hp(1L) == ((3.0, 1.5)) && hp(2L) == ((3.0, 2.0)) && hp(3L) == ((3.0, 1.5)),
      s"k > |V| makes the sketch exact: $hp")
    // two triangles + bridge: hand distances
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val h = Graph.harmonicCentrality(e, "src", "dst", maxHops = 3, k = 32)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(h(1L) - (2.0 + 0.5 + 2.0 / 3.0)) < 1e-12, s"${h(1L)}")
    assert(h(3L) == 4.0, "bridge endpoint: 3 at hop 1, 2 at hop 2")
    assert(h(3L) > h(1L), "the bridge node is the most central")
    // truncation: maxHops = 1 reduces to the degree
    val d1 = Graph.harmonicCentrality(e, "src", "dst", maxHops = 1, k = 32)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d1 == Map(1L -> 2.0, 2L -> 2.0, 3L -> 3.0, 4L -> 3.0, 5L -> 2.0, 6L -> 2.0))
    // capped sketches (k = 2): estimates stay finite and positive, and
    // the full-reach estimate is shared across a connected component
    val s2 = Graph.harmonicCentrality(e, "src", "dst", maxHops = 3, k = 2).collect()
    assert(s2.forall(r => r.getDouble(1) > 0 && !r.getDouble(2).isNaN))
  }

  test("closenessCentrality: exact with uncapped sketches; N(t) curve monotone; shares harmonic's sketches") {
    import graft.operators.Graph
    // path 1-2-3: node 1 dists {1,2} → sum 3, closeness (3−1)/3
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val cp = Graph.closenessCentrality(path, "src", "dst", maxHops = 2, k = 32)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // columns: node, n0, n1, n2, sum_dist, closeness
    assert(cp(1L)._1 == 1.0, "n0 is the node itself")
    assert(cp(1L)._2 == 3.0 && cp(1L)._3 == 3.0, s"${cp(1L)}")
    assert(cp(1L)._4 == 2.0 / 3.0 && cp(2L)._4 == 1.0, s"exact closeness: $cp")
    // two triangles + bridge: node 3 dists {1,1,1,2,2} → sum 7,
    // closeness 5/7; node 1 dists {1,1,2,3,3} → sum 10, closeness 5/10
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val c = Graph.closenessCentrality(e, "src", "dst", maxHops = 3, k = 32)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    assert(c(3L) == ((7.0, 5.0 / 7.0)) && c(1L) == ((10.0, 0.5)), s"$c")
    assert(c(3L)._2 > c(1L)._2, "the bridge node is the most central")
    // the N(t) curve is nondecreasing even with capped sketches
    val rows = Graph.closenessCentrality(e, "src", "dst", maxHops = 3, k = 2).collect()
    rows.foreach { r =>
      val ns = (1 to 4).map(r.getDouble)
      assert(ns.sliding(2).forall(p => p(0) <= p(1)), s"N(t) must be monotone: $ns")
      assert(!r.isNullAt(6) || r.getDouble(5) == 0.0)
    }
    // same sketches as harmonic: reach_est(maxHops) == n(maxHops)
    val h = Graph.harmonicCentrality(e, "src", "dst", maxHops = 3, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n3 = Graph.closenessCentrality(e, "src", "dst", maxHops = 3, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(h.forall { case (n, v) => n3(n) == v }, "shared sketch algebra must agree")
  }

  test("neighborhoodFunction: exact hand values on the path graph; eff diameter interpolates") {
    import graft.operators.Graph
    // path 1-2-3: nf(0)=3, nf(1)=7, nf(2)=9; thr=0.9*9=8.1 falls in
    // (7, 9] -> eff_d = 1 + (8.1-7)/(9-7) = 1.55
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.neighborhoodFunction(path, "src", "dst", maxHops = 2, k = 32, q = 0.9)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3))))
      .toMap
    assert(r(0L)._1 == 3.0 && r(1L)._1 == 7.0 && r(2L)._1 == 9.0, s"$r")
    assert(r(2L)._2 == 1.0, "frac closes at 1")
    assert(math.abs(r(1L)._3 - 1.55) < 1e-9, s"interpolated eff diameter: ${r(1L)._3}")
    assert(r.values.map(_._3).toSet.size == 1, "eff_diameter is the constant audit column")
    // saturated reach at t=0 pins the zero branch
    val pair = Seq((7L, 8L)).toDF("src", "dst")
    val r0 = Graph.neighborhoodFunction(pair, "src", "dst", maxHops = 1, k = 32, q = 0.5)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    // nf(0)=2, nf(1)=4, thr=2.0 -> already met at t=0
    assert(r0(0L) == 0.0, s"$r0")
  }

  test("louvainMovesWeighted: unit weights ≡ unweighted; self-loops enter degree only") {
    import graft.operators.Graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val w1 = e.withColumn("w", lit(1L))
    val got = Graph.louvainMovesWeighted(w1, "src", "dst", "w", iters = 4).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L),
      s"unit-weight run must match louvainMoves: $got")
    // self-loops enter weighted degree (×2) and so steer the merge
    // decision exactly as modularity dictates: a pair joined by w=1
    // with heavy (w=5) self-loops maximizes Q SEPARATE (merging makes
    // one community the whole graph, Q = 0 < 2·(5/11 − 1/4)) — while
    // a w=10 bridge with light (w=1) self-loops maximizes Q merged
    val selfy = Seq((1L, 2L, 1L), (1L, 1L, 5L), (2L, 2L, 5L)).toDF("src", "dst", "w")
    val pr = Graph.louvainMovesWeighted(selfy, "src", "dst", "w", iters = 6).collect()
      .map(x => x.getAs[Long]("label")).distinct
    assert(pr.length == 2, s"heavy self-loops: separate is optimal, got $pr")
    val heavy = Seq((1L, 2L, 10L), (1L, 1L, 1L), (2L, 2L, 1L)).toDF("src", "dst", "w")
    val hr = Graph.louvainMovesWeighted(heavy, "src", "dst", "w", iters = 6).collect()
      .map(x => x.getAs[Long]("label")).distinct
    assert(hr.length == 1, s"heavy bridge beats light self-loops: merge, got $hr")
    // weight dominance: 4 in a path 1-2-3-4 where (2,3) carries weight
    // 10 vs 1 elsewhere — the heavy edge's endpoints must co-label
    val path = Seq((1L, 2L, 1L), (2L, 3L, 10L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val pl = Graph.louvainMovesWeighted(path, "src", "dst", "w", iters = 6).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    assert(pl(2L) == pl(3L), s"heavy edge endpoints must share a community: $pl")
  }

  test("louvainTwoLevel: coarse moves finish what node moves started; Q never drops") {
    import graft.operators.Graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    // itersL1 = 0: level 1 leaves singletons, the coarse graph IS the
    // original (unit weights, no self-loops), and level 2 must reach
    // the planted partition — the weighted phase subsumes the
    // unweighted one
    val fromSingletons = Graph.louvainTwoLevel(e, "src", "dst", itersL1 = 0, itersL2 = 4)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    assert(fromSingletons == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L),
      s"$fromSingletons")
    // full two-level on an already-optimal level-1 partition: the
    // coarse phase must not degrade it (merging the two triangle
    // communities would lower Q — it must stay put)
    val l1 = Graph.louvainMoves(e, "src", "dst", iters = 4)
    val l2 = Graph.louvainTwoLevel(e, "src", "dst", itersL1 = 4, itersL2 = 4)
    val q1 = Graph.modularity(e, "src", "dst", l1).collect().head.getAs[Double]("q_total")
    val q2 = Graph.modularity(e, "src", "dst", l2).collect().head.getAs[Double]("q_total")
    assert(q2 >= q1, s"two-level modularity regressed: $q2 < $q1")
    assert(l2.collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
      == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 6L, 5L -> 6L, 6L -> 6L))
  }

  test("louvainTwoLevel: co-purchase graph — level-2 modularity >= level-1") {
    import graft.operators.Graph
    // the q_graph_louvain demo graph at sf0.001 (support-floored part
    // co-purchase), same iteration budget as the registered queries
    val ti = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey").as("t"), col("l_partkey").as("i")).distinct()
    val e = ti.as("x")
      .join(ti.as("y"), col("x.t") === col("y.t") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("src"), col("y.i").as("dst"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("src"), col("dst")).localCheckpoint(false)
    val l1 = Graph.louvainMoves(e, "src", "dst", iters = 4)
    val l2 = Graph.louvainTwoLevel(e, "src", "dst", itersL1 = 4, itersL2 = 4)
    val q1 = Graph.modularity(e, "src", "dst", l1).collect().head.getAs[Double]("q_total")
    val q2 = Graph.modularity(e, "src", "dst", l2).collect().head.getAs[Double]("q_total")
    assert(q2 >= q1, s"aggregation phase must not lose modularity: l2 $q2 < l1 $q1")
    val c1 = l1.select("label").distinct().count()
    val c2 = l2.select("label").distinct().count()
    assert(c2 <= c1, "coarse moves only merge or regroup communities, never split")
  }

  test("louvainMultiLevel: Q non-decreasing per level, >= two-level; early exit is a no-op") {
    import graft.operators.Graph
    // the co-purchase demo graph at sf0.001 (the registered query's)
    val ti = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey").as("t"), col("l_partkey").as("i")).distinct()
    val e = ti.as("x")
      .join(ti.as("y"), col("x.t") === col("y.t") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("src"), col("y.i").as("dst"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("src"), col("dst")).localCheckpoint(false)
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      Graph.modularity(e, "src", "dst", labels).collect().head.getAs[Double]("q_total")
    val qs = (1 to 3).map(lv =>
      q(Graph.louvainMultiLevel(e, "src", "dst", itersPerLevel = 4, maxLevels = lv)))
    assert(qs.sliding(2).forall(p => p(0) <= p(1)),
      s"modularity must not drop across levels: $qs")
    val qL2 = q(Graph.louvainTwoLevel(e, "src", "dst", itersL1 = 4, itersL2 = 4))
    assert(qs(2) >= qL2, s"3-level Q ${qs(2)} must be >= two-level Q $qL2")
    // early exit: on the planted two-triangle graph level 1 already
    // converges, so deeper maxLevels return the identical partition
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    def run(lv: Int) = Graph.louvainMultiLevel(tri, "src", "dst", 4, lv)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    val deep = run(5)
    assert(deep == run(2) && deep == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 6L, 5L -> 6L, 6L -> 6L), s"$deep")
  }

  test("expect: violation counts, NULL-fails-by-default, opt-out, one scan") {
    import graft.operators.Profile
    val df = Seq((1, Some(5)), (2, Some(50)), (3, None), (4, Some(7)))
      .toDF("id", "v")
    val got = Profile.expect(df, Seq(
      "v_small" -> (col("v") < 10),              // NULL row counts as violation
      "v_small_nulls_ok" -> coalesce(col("v") < 10, lit(true)),
      "id_positive" -> (col("id") > 0)))
      .collect().map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass")))).toMap
    assert(got("v_small") == ((2L, false)), "50 and the NULL row violate")
    assert(got("v_small_nulls_ok") == ((1L, false)), "only 50 violates with the opt-out")
    assert(got("id_positive") == ((0L, true)))
    // all rules ride ONE aggregate over ONE scan of the input
    val plan = Profile.expect(df, Seq("a" -> (col("id") > 0), "b" -> (col("v") < 10)))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan ExistingRDD".r.findAllIn(plan).size <= 1,
      s"expect must not re-scan per rule:\n$plan")
  }

  test("kAnonymize: class sizes, suppression verdicts, NULLs form their own class") {
    import graft.operators.Profile
    val rows = Seq(
      (1L, "a", Some(1)), (2L, "a", Some(1)), (3L, "a", Some(1)), // class of 3
      (4L, "a", Some(2)),                                          // singleton
      (5L, "b", None), (6L, "b", None)                             // NULL class of 2
    ).toDF("id", "qa", "qb")
    val got = Profile.kAnonymize(rows, Seq("qa", "qb"), k = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("class_size"), r.getAs[Boolean]("suppressed")))).toMap
    assert(got.size == 6, "every input row must come back exactly once")
    assert(got(1L) == ((3L, false)) && got(2L) == ((3L, false)) && got(3L) == ((3L, false)))
    assert(got(4L) == ((1L, true)), "singleton class must suppress at k=3")
    assert(got(5L) == ((2L, true)) && got(6L) == ((2L, true)),
      "NULL quasi values must group together (null-safe keys), class of 2 < k")
  }

  test("keepIncreasing ≡ reference drop_smaller_values: keeps prefix-max strict increases") {
    val kept = Shedding.keepIncreasing(stream, "key", col("ord"), col("value"))
      .orderBy("key", "ord").select("key", "value").as[(String, Double)].collect().toList
    assert(kept == List("a" -> 10.0, "a" -> 20.0, "a" -> 21.0, "a" -> 90.0,
      "b" -> 1.0, "b" -> 2.0, "b" -> 3.0))
  }

  /** In-memory reference fold for make_mean_policy
    * (ralf/policies/load_shedding_policy.py:41-50): keep iff
    * |v - lastKept| >= thresh, first record always kept.
    */
  private def refMeanFold(rows: Seq[(String, Long, Double)], thresh: Double): Set[(String, Long)] = {
    rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      var last = Option.empty[Double]
      rs.sortBy(_._2).flatMap { case (k, o, v) =>
        if (last.isEmpty || math.abs(v - last.get) >= thresh) { last = Some(v); Some((k, o)) }
        else None
      }
    }.toSet
  }

  test("meanPolicyFold matches the in-memory reference fold (incl. across partitions)") {
    val rng = new scala.util.Random(42)
    val rows = for (k <- 'a' to 'j'; i <- 1 to 200)
      yield (k.toString, i.toLong, rng.nextDouble() * 100)
    val df = spark.createDataFrame(rows).toDF("key", "ord", "value").repartition(7)
    val got = Shedding.meanPolicyFold(df, "key", "ord", "value", thresh = 30.0)
      .select("key", "ord").as[(String, Long)].collect().toSet
    assert(got == refMeanFold(rows, 30.0))
    assert(got.size < rows.size) // policy actually sheds something
  }

  test("cosinePolicyFold: identical vectors shed, changed vectors kept, first always kept") {
    val rows = Seq(
      ("a", 1L, Seq(1.0, 0.0)), ("a", 2L, Seq(2.0, 0.0)), // cosine-identical -> shed
      ("a", 3L, Seq(0.0, 1.0)), // orthogonal -> kept
      ("b", 1L, Seq(5.0, 5.0))
    ).toDF("key", "ord", "vec")
    val kept = Shedding.cosinePolicyFold(rows, "key", "ord", "vec", thresh = 0.01)
      .select("key", "ord").as[(String, Long)].collect().toSet
    assert(kept == Set(("a", 1L), ("a", 3L), ("b", 1L)))
  }

  test("batch sort-folds share one NULL rule: NULL-key and NULL-value rows drop") {
    // each fold gets a NULL-value row and a NULL-key row next to two
    // real rows of key "a"; both NULL rows drop, the real rows fold as
    // if the NULL rows were absent
    val scalar = Seq(
      (Option("a"), 1L, Option(10.0)), (Option("a"), 2L, None: Option[Double]),
      (None: Option[String], 3L, Option(500.0)), (Option("a"), 4L, Option(90.0))
    ).toDF("key", "ord", "value")
    val mean = Shedding.meanPolicyFold(scalar, "key", "ord", "value", thresh = 30.0)
      .select("key", "ord").as[(String, Long)].collect().toSet
    assert(mean == Set(("a", 1L), ("a", 4L)))

    val vecs = Seq(
      (Option("a"), 1L, Option(Seq(1.0, 0.0))), (Option("a"), 2L, None: Option[Seq[Double]]),
      (None: Option[String], 3L, Option(Seq(0.0, 1.0))), (Option("a"), 4L, Option(Seq(0.0, 1.0)))
    ).toDF("key", "ord", "vec")
    val cosine = Shedding.cosinePolicyFold(vecs, "key", "ord", "vec", thresh = 0.01)
      .select("key", "ord").as[(String, Long)].collect().toSet
    assert(cosine == Set(("a", 1L), ("a", 4L)))

    val ints = scalar.select(col("key"), col("ord"), col("value").cast("long").as("v"))
    val cusum = Windows.cusum(ints, "key", "ord", "v", target = 10L, slack = 2L, threshold = 15L)
      .collect().map(r => r.getLong(1) -> r.getAs[Long]("cusum_pos")).toMap
    assert(cusum == Map(1L -> 0L, 4L -> 78L))
  }

  test("FeatureFrame sinks: sinkParquet round-trips its rows and print runs") {
    val path = java.nio.file.Files.createTempDirectory("graft-ffsink").toString + "/t"
    val ff = core.FeatureFrame.source(stream, "key", "ord")
    ff.sinkParquet(path)
    val back = spark.read.parquet(path).as[(String, Long, Double)].collect().toSet
    assert(back == stream.as[(String, Long, Double)].collect().toSet)
    ff.print(3)
  }

  test("FeatureFrame.asOfJoin renames the right key and enriches point-in-time") {
    val l = core.FeatureFrame.source(
      Seq(("a", 5L)).toDF("key", "ord"), "key", "ord")
    val r = core.FeatureFrame.source(
      Seq(("a", 3L, 7.0), ("a", 9L, 9.0)).toDF("rk", "rord", "v"), "rk", "rord")
    val out = l.asOfJoin(r, "v").df.select("key", "ord", "asof_value")
      .as[(String, Long, Double)].collect().toList
    assert(out == List(("a", 5L, 7.0)))
  }

  test("saltedJoin == plain join on skewed keys, and partitions by (key, salt)") {
    val big = ((1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 50).map(i => (s"k$i", i.toLong))).toDF("key", "row_id")
    val dim = (Seq("hot") ++ (1 to 50).map(i => s"k$i") ++ Seq("unmatched"))
      .zipWithIndex.map { case (k, i) => (k, i * 1.0) }.toDF("key", "dim_val")
    val salted = operators.Skew.saltedJoin(big, dim, "key", col("row_id"), factor = 8)
    val plain = big.join(dim, Seq("key"))
    assert(salted.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toList
      == plain.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toList)
    // the exchange must spread on (key, _salt), not key alone
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"expected salted partitioning in:\n$plan")
  }

  test("asOfJoin: each left row sees the latest right value at-or-before its ord") {
    val left = Seq(("a", 1L), ("a", 3L), ("a", 5L), ("b", 2L))
      .toDF("key", "ord")
    val right = Seq(("a", 2L, 10.0), ("a", 3L, 20.0), ("a", 9L, 99.0), ("c", 1L, 7.0))
      .toDF("key", "rord", "rval")
    val out = Joins.asOfJoin(left, right, "key", "ord", "rord", "rval")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set(
      ("a", 1L, None),        // nothing at-or-before 1
      ("a", 3L, Some(20.0)),  // same-ord right is visible
      ("a", 5L, Some(20.0)),  // 9 is in the future: no leakage
      ("b", 2L, None)))       // other keys' rights invisible
  }

  test("trainingSet: N timelines in one pass ≡ folding asOfJoin per feature") {
    val rnd = new scala.util.Random(41)
    val keys = Seq("a", "b", "c")
    val spine = (1 to 40).map(i => (keys(rnd.nextInt(3)), rnd.nextInt(50).toLong, i))
      .toDF("key", "ord", "label")
    val tls = (0 until 3).map { f =>
      // distinct ords per (key, timeline): at most one record per (key, ord)
      (0 until 50).flatMap { o =>
        keys.collect { case k if rnd.nextBoolean() => (k, o.toLong, rnd.nextInt(1000).toDouble) }
      }.toDF("key", "ord", "v")
    }
    val names = Seq("f0", "f1", "f2")
    val got = Joins.trainingSet(spine, "key", "ord",
      tls.zip(names).map { case (df, n) => Joins.FeatureTimeline(df, "ord", "v", n) })
    val want = tls.zip(names).foldLeft(spine) { case (acc, (df, n)) =>
      Joins.asOfJoin(acc, df, "key", "ord", "ord", "v", asOfCol = n)
    }
    val key = (r: org.apache.spark.sql.Row) => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)).mkString("|")
    assert(got.collect().map(key).sorted.toList
      == want.select(got.columns.map(col).toIndexedSeq: _*).collect().map(key).sorted.toList)
  }

  test("trainingSet: same-ord features visible, no leakage, loud name collisions") {
    val spine = Seq(("a", 5L, 1.0)).toDF("key", "ord", "label")
    val f = Seq(("a", 5L, 10.0), ("a", 6L, 99.0)).toDF("key", "ord", "v")
    val out = Joins.trainingSet(spine, "key", "ord",
      Seq(Joins.FeatureTimeline(f, "ord", "v", "feat"))).collect()
    assert(out.map(r => r.getDouble(3)).toList == List(10.0),
      "a feature AT the spine ordinal is visible; the future one is not")
    intercept[IllegalArgumentException] {
      Joins.trainingSet(spine, "key", "ord",
        Seq(Joins.FeatureTimeline(f, "ord", "v", "label")))
    }
    intercept[IllegalArgumentException] {
      Joins.trainingSet(spine, "key", "ord", Seq(
        Joins.FeatureTimeline(f, "ord", "v", "feat"),
        Joins.FeatureTimeline(f, "ord", "v", "feat")))
    }
    intercept[IllegalArgumentException] {
      Joins.trainingSet(spine, "key", "ord", Nil)
    }
  }

  test("Upsert.history: consecutive no-change updates collapse, current version open") {
    val log = Seq(
      ("a", 1L, "x"), ("a", 2L, "x"), ("a", 3L, "y"), ("a", 4L, "y"), ("a", 5L, "x"),
      ("b", 7L, "z")).toDF("key", "ord", "v")
    val h = Upsert.history(log, "key", "ord", Seq("v")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(h == Set(
      ("a", "x", 1L, Some(3L)),  // 2 collapsed into [1, 3)
      ("a", "y", 3L, Some(5L)),
      ("a", "x", 5L, None),      // value recurrence reopens a NEW interval
      ("b", "z", 7L, None)))
    intercept[IllegalArgumentException] {
      Upsert.history(log, "key", "ord", Nil)
    }
    intercept[IllegalArgumentException] {
      Upsert.history(log.withColumnRenamed("v", "valid_from"), "key", "ord", Seq("valid_from"))
    }
  }

  test("Upsert.asAt(history, t) ≡ latest over the log truncated at t") {
    val rnd = new scala.util.Random(43)
    val log = (1 to 200).map { i =>
      (("k" + rnd.nextInt(5)), i.toLong, ("v" + rnd.nextInt(3)))
    }.toDF("key", "ord", "v")
    for (t <- Seq(0L, 1L, 57L, 200L)) {
      val viaHistory = Upsert.asAt(Upsert.history(log, "key", "ord", Seq("v")), lit(t))
        .select("key", "v").collect().map(r => (r.getString(0), r.getString(1))).toSet
      val viaLatest = Upsert.latest(log.filter(col("ord") <= t), "key", col("ord"))
        .select("key", "v").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(viaHistory == viaLatest, s"diverged at t=$t")
    }
  }

  test("processing-order traces: fifo asc, lifo desc, last_completed by complete time") {
    // counter-source shape of the reference's LIFO e2e
    // (ralf/tests/test_e2e.py:96-115): values 1..10. The reference
    // observes [1, 10, 9, ..., 2] because its eager loop grabs the
    // first record before the rest enqueue; batch sees all records
    // pending, so the trace is the pure policy order.
    val t = (1 to 10).map(i => (i.toLong, i.toDouble, (11 - i).toLong))
      .toDF("proc_time", "value", "complete_time")
    val fifo = Shedding.fifoTrace(t, col("proc_time")).select("value").as[Double].collect().toList
    assert(fifo == (1 to 10).map(_.toDouble).toList)
    val lifo = Shedding.lifoTrace(t, col("proc_time")).select("value").as[Double].collect().toList
    assert(lifo == (10 to 1 by -1).map(_.toDouble).toList)
    assert(lifo.tail == (1 to 10).map(_.toDouble).toList.reverse.tail) // e2e order, net of the startup race
    // last_completed: freshest complete_time first — here complete_time
    // runs opposite to proc_time, so the trace is proc_time ascending
    val lc = Shedding.lastCompletedTrace(t, col("complete_time")).select("value").as[Double].collect().toList
    assert(lc == (1 to 10).map(_.toDouble).toList)
  }

  test("sampleDeterministic keeps exactly the residue set") {
    val df = spark.range(0, 1000).toDF("id")
    val kept = Shedding.sampleDeterministic(df, col("id"), modulus = 10, keepBelow = 3)
    assert(kept.count() == 300)
    assert(kept.filter(col("id") % 10 >= 3).isEmpty)
  }

  test("e2e multiset: counter source 1..100 through map reaches sink unchanged") {
    val out = sources.Sources.counter(spark, 100).select("value").as[Long]
      .collect().sorted.toList
    assert(out == (1L to 100L).toList)
  }

  test("asOfJoin widens mixed ordinal types instead of narrowing the right side") {
    // ADVICE r6: a LONG right ordinal silently cast to the left's INT
    // could wrap and misorder the union — both sides must widen. The
    // right ord below only orders correctly as a long.
    val left = Seq(("a", 3), ("a", 10)).toDF("key", "ord")
    val right = Seq(
      ("a", 2L, 1.0),
      ("a", 1L + (1L << 32), 99.0) // wraps to 1 if narrowed to int
    ).toDF("key", "rord", "rval")
    val out = Joins.asOfJoin(left, right, "key", "ord", "rord", "rval")
      .collect().map(r => (r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((3, Some(1.0)), (10, Some(1.0))),
      "the future (1+2^32) right row must stay in the future")
    val bad = Seq(("a", "x", 1.0)).toDF("key", "rord", "rval")
    val e = intercept[IllegalArgumentException] {
      Joins.asOfJoin(left, bad, "key", "ord", "rord", "rval")
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("Profile.profile quotes column names needing backticks") {
    val df = Seq((1L, 2.0), (2L, 4.0)).toDF("the-id", "v x")
    val out = graft.operators.Profile.profile(df, Seq("the-id", "v x"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), Option(r.get(4)))))
      .toMap
    assert(out("the-id") == ((2L, Some(1.0))))
    assert(out("v x") == ((2L, Some(2.0))))
  }

  test("asOfJoin keeps caller columns named like its staging columns (_rv/_ir/_ord)") {
    // ADVICE r2: withColumn silently replaces on collision and the final
    // drop then destroys user data — staging names must dodge the caller's
    val left = Seq(("a", 1L, "keepme1", 7, 77L), ("a", 3L, "keepme2", 8, 88L))
      .toDF("key", "ord", "_rv", "_ir", "_ord")
    val right = Seq(("a", 2L, 10.0)).toDF("key", "rord", "rval")
    val out = Joins.asOfJoin(left, right, "key", "ord", "rord", "rval").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getInt(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
    assert(out == Set(
      (1L, "keepme1", 7, 77L, None),
      (3L, "keepme2", 8, 88L, Some(10.0))),
      "caller's _rv/_ir/_ord columns must survive with their values")
  }

  test("saltedSliding matches sliding on a hot-key dataset") {
    // 4000 rows → chunks of 500 plus a single-row LAST chunk (ord 4000):
    // thin last chunks are legal (nothing depends on their carry)
    val hot = (1 to 4000).map(i => ("hot", i.toLong, (i % 97).toDouble))
    val cold = (1 to 50).map(i => ("cold", i.toLong, i.toDouble))
    val df = (hot ++ cold).toDF("key", "ord", "value")
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select("key", "_rn", "w_avg", "w_sum", "w_min", "w_max")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet
    val plain = norm(Windows.sliding(df, "key", col("ord"), col("value"), 7, 3))
    val salted = norm(Windows.saltedSliding(df, "key", "ord", col("value"), 7, 3, chunkSpan = 500))
    assert(salted == plain)
    assert(salted.nonEmpty)
    // the window exchange must spread the hot key over its chunks
    val plan = Windows.saltedSliding(df, "key", "ord", col("value"), 7, 3, chunkSpan = 500)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_chunk"), s"expected (key, chunk) partitioning in:\n$plan")
  }

  test("saltedSliding refuses chunks too sparse for one-hop carries") {
    // key with a gap: chunk 0 dense, chunk 1 missing, chunk 2 dense
    val sparse = ((1 to 20).map(i => ("k", i.toLong, 1.0)) ++
      (41 to 60).map(i => ("k", i.toLong, 1.0))).toDF("key", "ord", "value")
    intercept[IllegalArgumentException] {
      Windows.saltedSliding(sparse, "key", "ord", col("value"), 5, 2, chunkSpan = 10)
    }
  }

  test("connectedComponents fails loudly when a chain outruns maxIter") {
    // a path graph of length 12 needs more than 3 star rounds
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.operators.Graph.connectedComponents(chain, "doc_a", "doc_b", maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge in 3 rounds"), e.getMessage)
    // and converges fine with headroom: one component labeled 0
    val ok = graft.operators.Graph.connectedComponents(chain, "doc_a", "doc_b", maxIter = 20)
      .select("component").distinct().as[Long].collect().toList
    assert(ok == List(0L))
  }

  test("enrichLatest: left rows get right's latest value; no right key -> null") {
    val left = Seq(("a", 10L), ("c", 11L)).toDF("key", "ord")
    val right = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 9.0)).toDF("rkey", "ord", "rv")
    val out = Joins.enrichLatest(left, right, "key", "rkey", col("ord"))
      .select("key", "rv").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out == Map("a" -> Some(2.0), "c" -> None))
  }

  test("decayedSum: half-life decay exact on power-of-two gaps, anchored per key") {
    // gaps of 0/1/2 half-lives from the key's own newest event give
    // decay factors 1 / 0.5 / 0.25 — exactly representable, so the
    // quantized decimal sum is exact
    val ev = Seq(
      ("a", 0L, 8.0), ("a", 500L, 4.0), ("a", 1000L, 2.0),
      ("b", 9000L, 6.0) // different clock position: decay 1.0 regardless
    ).toDF("key", "ord", "v")
    val out = graft.operators.Windows.decayedSum(ev, "key", col("ord"), col("v"), 500L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out("a") == ((3L, 8.0 * 0.25 + 4.0 * 0.5 + 2.0, 1.75)))
    assert(out("b") == ((1L, 6.0, 1.0)))
  }

  test("Profile.profile: counts, nulls, exact small-cardinality estimates, min/max") {
    val df = Seq(
      (1L, Option("x"), 1.5), (2L, Option("y"), -2.0),
      (3L, Option.empty[String], 0.0), (4L, Option("x"), 9.5)
    ).toDF("id", "tag", "v")
    val out = graft.operators.Profile.profile(df, Seq("id", "tag"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), Option(r.get(4)), Option(r.get(5)))))
      .toMap
    // below the sketch capacity the KMV estimate is EXACT
    assert(out("id") == ((4L, 0L, 4.0, Some(1.0), Some(4.0))))
    assert(out("tag") == ((4L, 1L, 2.0, None, None)),
      "nulls counted but excluded from the sketch; non-numeric min/max NULL")
  }

  test("saltedJoin ≡ plain join row-for-row, including duplicate multiplicity") {
    val rng = new scala.util.Random(13)
    val big = (1 to 400).map(i => ("k" + rng.nextInt(3), i.toLong, rng.nextInt(5)))
      .toDF("key", "bid", "bv")
    val right = Seq(("k0", 10.0), ("k1", 20.0), ("k1", 21.0), ("k3", 9.0))
      .toDF("key", "rv") // k1 duplicated: each big k1 row must emit twice
    val plain = big.join(right, Seq("key"))
      .select(col("bid"), col("rv")).as[(Long, Double)].collect().toList.sorted
    for (f <- Seq(1, 4, 16)) {
      val got = Joins.saltedJoin(big, right, "key", col("bid"), saltFactor = f)
        .select(col("bid"), col("rv")).as[(Long, Double)].collect().toList.sorted
      assert(got == plain, s"saltFactor $f: ${got.size} vs ${plain.size} rows")
    }
  }

  test("Profile.integrity: orphans counted and witnessed; intact FK clean") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 5L, 7L).toDF("fk")
    val bad = graft.operators.Profile.integrity(child, "fk", parent, "pk", "c->p")
      .collect().head
    assert((bad.getString(0), bad.getLong(1), bad.getLong(2), bad.getLong(3)) ==
      (("c->p", 5L, 2L, 5L)))
    val ok = graft.operators.Profile.integrity(parent, "pk", parent, "pk", "self")
      .collect().head
    assert(ok.getLong(2) == 0L && ok.isNullAt(3))
  }

  test("Funnel.ordered: greedy earliest completion; stalls leave NULLs") {
    val ev = Seq(
      // u1: full conversion, click BEFORE the view doesn't count
      (1L, 10L, "click"), (1L, 20L, "view"), (1L, 30L, "click"), (1L, 40L, "purchase"),
      // u2: purchase precedes its click -> funnel stalls at click
      (2L, 10L, "view"), (2L, 30L, "click"), (2L, 20L, "purchase"),
      // u3: view only
      (3L, 5L, "view"), (3L, 6L, "error")
    ).toDF("user_id", "event_id", "event_type")
    val out = graft.operators.Funnel.ordered(
        ev, "user_id", col("event_id"), col("event_type"),
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
    assert(out.toList == List(
      (1L, Some(20L), Some(30L), Some(40L)),
      (2L, Some(10L), Some(30L), None),
      (3L, Some(5L), None, None)))
  }

  test("transitions: adjacent pairs per key, conditional probabilities") {
    import spark.implicits._
    // u1: A B A B → (A,B)×2, (B,A); u2: A A → (A,A); no cross-user pair
    val ev = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"),
      (2L, 1L, "A"), (2L, 2L, "A")).toDF("user_id", "event_id", "event_type")
    val got = graft.operators.Funnel.transitions(ev, "user_id",
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("from_total"), r.getAs[Double]("prob")))
      .toMap
    assert(got.size == 3)
    assert(got(("A", "B")) == ((2L, 3L, 2.0 / 3.0)))
    assert(got(("A", "A")) == ((1L, 3L, 1.0 / 3.0)))
    assert(got(("B", "A")) == ((1L, 1L, 1.0)))
  }

  test("fdAudit: holds/violated candidates with exact rates") {
    import spark.implicits._
    val rows = Seq((1L, Some("a")), (1L, Some("a")), (2L, Some("a")), (2L, Some("b")),
      (3L, None)).toDF("k", "v")
    val r = graft.operators.Profile.fdAudit(rows, Seq("k"), "v").collect().head
    assert(r.getAs[String]("fd") == "k -> v")
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("n_violating") == 1L)
    assert(r.getAs[Long]("max_distinct") == 2L)
    assert(math.abs(r.getAs[Double]("violation_rate") - 1.0 / 3) < 1e-12)
  }

  test("entropy: hand distribution, NULL category, constant column is zero") {
    import spark.implicits._
    val rows = Seq((Some("a"), "c"), (Some("a"), "c"), (Some("b"), "c"), (None, "c"))
      .toDF("x", "y")
    val got = graft.operators.Profile.entropy(rows, Seq("x", "y"))
      .collect().map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct"), r.getAs[Double]("entropy")))
      .toMap
    def q6(d: Double) = new java.math.BigDecimal(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = q6(0.5 * math.log(2.0)) + 2 * q6(0.25 * math.log(4.0))
    assert(got("x")._1 == 4L && got("x")._2 == 3L)
    assert(math.abs(got("x")._3 - expected) < 1e-9)
    assert(got("y") == ((4L, 1L, 0.0)))
  }

  test("rollingZScore: spike flags against the prior window; zero variance stays null") {
    import spark.implicits._
    val rows = Seq((1L, 1L, 10.0), (1L, 2L, 12.0), (1L, 3L, 11.0), (1L, 4L, 13.0),
      (1L, 5L, 10.0), (1L, 6L, 90.0),
      (2L, 1L, 5.0), (2L, 2L, 5.0), (2L, 3L, 5.0), (2L, 4L, 5.0), (2L, 5L, 5.0))
      .toDF("k", "o", "v")
    val got = graft.operators.Windows.rollingZScore(rows, "k",
        org.apache.spark.sql.functions.col("o"),
        org.apache.spark.sql.functions.col("v"), windowSize = 4, threshold = 3.0)
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("o")) ->
        (Option(r.getAs[Any]("z")).map(_.asInstanceOf[Double]), r.getAs[Boolean]("is_anomaly")))
      .toMap
    assert(got.size == 3, "only rows with a complete prior window emit")
    // (1,5): lookback cents {1000,1200,1100,1300} → z = -600/sqrt(200000)
    val z15 = got((1L, 5L))._1.get
    assert(math.abs(z15 - (-600.0 / math.sqrt(200000.0))) < 1e-12 && !got((1L, 5L))._2)
    val z16 = got((1L, 6L))._1.get
    assert(z16 > 3.0 && got((1L, 6L))._2, "the spike must flag")
    assert(got((2L, 5L)) == ((None, false)), "zero-variance lookback: NULL z, no flag")
  }

  test("groupQuantileBins: per-group cuts, independent group sizes") {
    import spark.implicits._
    // g1: 10 rows into 4 bins (3,2,3,2); g2: 2 rows → bins 0 and 2
    val rows = ((1L to 10L).map(i => ("g1", i, i * 7 % 11)) ++
      Seq(("g2", 1L, 5L), ("g2", 2L, 9L))).toDF("g", "id", "v")
    val got = graft.operators.Windows.groupQuantileBins(rows, "g",
        Seq(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("id")), nBins = 4)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("v")) -> r.getAs[Long]("bin"))
      .toMap
    val g1Sizes = got.collect { case ((g, _), b) if g == "g1" => b }
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(g1Sizes == Map(0L -> 3, 1L -> 2, 2L -> 3, 3L -> 2))
    assert(got(("g2", 5L)) == 0L && got(("g2", 9L)) == 2L)
  }

  test("kCore: a tail peels off a triangle round by round; degrees recomputed in-core") {
    // triangle a-b-c with tail c-d-e: e (deg 1) peels in round 1,
    // exposing d (deg 1) for round 2 — the 2-core is the triangle alone
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = graft.operators.Graph.kCore(edges, "src", "dst", k = 2, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be the bare triangle with in-core degrees: $core")
    // rounds=1 peels e; d survives the round (stale deg 2) but the
    // final in-core degree recompute + filter drops it from the OUTPUT
    // (one extra implicit peel — identical in the SQL oracle's closing
    // HAVING, so both engines agree at any bound)
    val partial = graft.operators.Graph.kCore(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(partial == Set(1L, 2L, 3L),
      s"the closing recompute filters d's in-core degree 1: $partial")
    // k above the max degree empties the graph
    assert(graft.operators.Graph.kCore(edges, "src", "dst", k = 4, rounds = 3).isEmpty)
  }

  test("kCore ≡ driver-side reference peel on a random graph") {
    val rnd = new scala.util.Random(53)
    val es = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = es.toDF("src", "dst")
    // reference: peel to the true fixed point in plain Scala
    val sym = (es ++ es.map(_.swap)).distinct
    var alive = sym.map(_._1).toSet
    var changed = true
    val k = 3
    while (changed) {
      val deg = sym.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).map { case (n, xs) => n -> xs.size }
      val next = deg.filter(_._2 >= k).keySet
      changed = next != alive
      alive = next
    }
    val wantDeg = sym.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
      .filter(_._2 >= k)
    val got = graft.operators.Graph.kCore(edges, "src", "dst", k = k, rounds = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == wantDeg, s"got $got want $wantDeg")
  }

  test("connectedComponents ≡ driver-side union-find on random multigraphs") {
    import spark.implicits._
    for (seed <- Seq(7, 21, 99, 1234)) {
      val rnd = new scala.util.Random(seed)
      // sparse enough for several non-trivial components; duplicate and
      // reversed copies of some edges, and self-loop-only nodes (the
      // universe rule)
      val base = (1 to 60).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      val es = base ++ base.take(15) ++ base.takeRight(15).map(_.swap) ++
        Seq((90L, 90L), (91L, 91L), (91L, 91L))
      // union-find whose root is always its set's minimum id
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(v => v -> find(v)).toMap
      val got = graft.operators.Graph.connectedComponents(rnd.shuffle(es).toDF("src", "dst"),
          "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length == want.size, s"seed $seed: one row per node")
      assert(got.toMap == want, s"seed $seed: connectedComponents disagrees with union-find")
    }
  }

  test("connectedComponents drops a row with a NULL endpoint") {
    val edges = Seq((Some(1L), Some(2L)), (Some(5L), None), (None, Some(7L)))
      .toDF("src", "dst")
    val got = graft.operators.Graph.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(got == Set(1L -> 1L, 2L -> 1L))
    val allNull = Seq((Option.empty[Long], Option.empty[Long])).toDF("src", "dst")
    assert(graft.operators.Graph.connectedComponents(allNull, "src", "dst").isEmpty)
  }

  test("connectedComponents evaluates its input edge plan once") {
    val rows = spark.sparkContext.longAccumulator("cc-input-rows")
    val tick = udf { (x: Long) => rows.add(1L); x }.asNondeterministic()
    val edges = spark.range(400)
      .select(tick(col("id") % 97).as("src"), (col("id") * 7 % 89 + 100).as("dst"))
    val got = graft.operators.Graph.connectedComponents(edges, "src", "dst").collect()
    assert(got.nonEmpty)
    assert(rows.value == 400L, s"the input ran ${rows.value / 400.0} times over")
  }

  test("connectedComponents: planted hub converges fast with bounded per-round volume") {
    import spark.implicits._
    // a 400-leaf hub (worst case for per-node neighborhood skew) welded
    // to a 60-node path (worst case for diameter) — min-label needs
    // O(diameter) rounds here; the star alternation is O(log² n)
    val hub = (2L to 401L).map(v => (500L, v))
    val path = (0L until 60L).map(i => (1000L + i, 1001L + i)) :+ (401L, 1000L)
    val edges = (hub ++ path).toDF("src", "dst")
    val nEdges = edges.count()
    val (labels, sizes) = graft.operators.Graph.starRun(edges, "src", "dst", maxIter = 50)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one component; minimum id is leaf 2
    assert(got.values.toSet == Set(2L), s"expected one component rooted at 2: ${got.values.toSet}")
    assert(got.size == 400 + 1 + 61)
    // the scale contract: every round's oriented edge set stays within
    // the input edge count (large-star emits one edge per symmetrized
    // input edge with v > u, small-star one per edge — no quadratic
    // hub blowup), and the alternation beats the 61-round diameter
    assert(sizes.forall(_ <= nEdges), s"per-round volume exceeded |E|: $sizes (|E|=$nEdges)")
    assert(sizes.length <= 12, s"expected O(log² n) rounds, got ${sizes.length}: $sizes")
  }

  test("connectedComponents runs an exact number of Spark jobs per round") {
    // each round is one materializing aggregate, which AQE submits as
    // one job per exchange: 10 per round (9 in round 1, whose input
    // checkpoint keeps its size estimate and so plans one broadcast),
    // plus 8 outside the rounds for the input stage and the final labels
    val seen = Seq(4, 256).map { n =>
      val chain = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
      val cap = graft.metrics.Capture.run(spark) {
        val (labels, sizes) = graft.operators.Graph.starRun(chain, "src", "dst", maxIter = 50)
        labels.collect()
        sizes.length
      }
      val rounds = cap.value
      assert(cap.roundJobs.toSeq ==
        (1 to rounds).map(r => s"connectedComponents/round-$r" -> (if (r == 1) 9 else 10)),
        s"chain of $n: ${cap.roundJobs}")
      assert(cap.jobs == 7 + 10 * rounds, s"chain of $n: ${cap.jobs} jobs in $rounds rounds")
      rounds
    }
    assert(seen(1) > seen(0), s"a longer chain needs more rounds: $seen")
  }

  test("labelPropagation: two triangles split across the bridge in 4 sync rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    // hand-traced sync rounds with ties-to-min: {1,2,3}→1, {4,5,6}→3
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // iters = 0 is the identity labeling
    val id0 = graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 0)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(id0.forall { case (n, l) => n == l } && id0.size == 6)
  }

  test("quantileBins: equal-frequency cut sizes differ by at most one") {
    import spark.implicits._
    // 10 rows into 4 bins: (rank-1)*4/10 → sizes 3,2,3,2
    val rows = (1L to 10L).map(i => (i, i * 7 % 11)).toDF("id", "v")
    val got = graft.operators.Windows
      .quantileBins(rows, Seq(org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("id")), nBins = 4)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("bin"))
    val sizes = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes == Map(0L -> 3, 1L -> 2, 2L -> 3, 3L -> 2))
    // bin is monotone in the sort order
    val byV = got.sortBy(_._1).map(_._2)
    assert(byV.zip(byV.tail).forall { case (a, b) => a <= b })
  }

  test("associationRules: distinct presence, min support, lift ranking both directions") {
    import spark.implicits._
    // baskets: t1{1,2,3} t2{1,2} t3{1,3} t4{2,4,4} — the repeated 4
    // counts once; N=4, n(1)=3 n(2)=3 n(3)=2 n(4)=1
    val rows = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L), (40L, 2L), (40L, 4L), (40L, 4L)).toDF("txn", "item")
    val got = graft.operators.Association.rules(rows, "txn", "item", minSupport = 2L, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("antecedent"), r.getAs[Long]("consequent"),
        r.getAs[Long]("support"), r.getAs[Double]("confidence"), r.getAs[Double]("lift")))
    // only {1,2} and {1,3} reach support 2; lift(1,3)=4*2/6, lift(1,2)=4*2/9
    assert(got.map(t => (t._1, t._2)).toList ==
      List((1L, 3L), (3L, 1L), (1L, 2L), (2L, 1L)))
    val m = got.map(t => (t._1, t._2) -> t).toMap
    assert(m((1L, 3L))._4 == 2.0 / 3.0 && m((3L, 1L))._4 == 1.0)
    assert(m((1L, 3L))._5 == 8.0 / 6.0 && m((1L, 2L))._5 == 8.0 / 9.0)
    assert(m((1L, 2L))._3 == 2L)
  }

  test("cohortRetention: first-period cohorts, offset cells, exact rates") {
    import spark.implicits._
    // period 10: u1 active p0,p1,p2; u2 p0,p2 (two events in p0 count
    // once); u3 p1 → cohorts {u1,u2}→0 (size 2), {u3}→1 (size 1)
    val ev = Seq((1L, 1L), (1L, 12L), (1L, 25L), (2L, 3L), (2L, 7L), (2L, 22L), (3L, 15L))
      .toDF("user_id", "event_id")
    val got = graft.operators.Funnel
      .cohortRetention(ev, "user_id", org.apache.spark.sql.functions.col("event_id"), 10L)
      .collect()
      .map(r => (r.getAs[Long]("cohort"), r.getAs[Long]("offset")) ->
        (r.getAs[Long]("cohort_users"), r.getAs[Long]("active_users"), r.getAs[Double]("retention")))
      .toMap
    assert(got.size == 4)
    assert(got((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(got((0L, 1L)) == ((2L, 1L, 0.5)))
    assert(got((0L, 2L)) == ((2L, 2L, 1.0)))
    assert(got((1L, 0L)) == ((1L, 1L, 1.0)))
  }

  test("triangleCount: degree-oriented count matches hand graph; input normalizes") {
    import spark.implicits._
    // square 1-2-4-3 with diagonal 2-3 → triangles (1,2,3), (2,3,4);
    // pendant edge 5-6; plus noise: dup, reversed dup, self-loop
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (5L, 6L),
      (2L, 1L), (1L, 2L), (4L, 4L)
    ).toDF("src", "dst")
    val got = graft.operators.Graph.triangleCount(edges, "src", "dst")
      .collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("triangles"), r.getAs[Double]("clustering")))
      .toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L)._1 == 3L && got(2L)._2 == 2L)
    assert(math.abs(got(2L)._3 - 2.0 / 3.0) < 1e-12)
    assert(got(3L)._1 == 3L && got(3L)._2 == 2L)
    assert(got(4L) == ((2L, 1L, 1.0)))
    assert(got(5L) == ((1L, 0L, 0.0)) && got(6L) == ((1L, 0L, 0.0)))
  }
}
