package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Shedding, Upsert, Windows}

/** Property tests for the load-bearing semantic identities (SURVEY §5):
  * upsert ≡ per-key argmax, window emission-count formula, sampling
  * bounds, prefix-max shedding. ScalaCheck generators drive the cases
  * (deterministic seed, few cases — Spark jobs are slow per case);
  * scalatestplus isn't on the offline classpath so sampling is manual.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic generator samples. */
  private def forAll[A](g: Gen[A], cases: Int = 5)(body: A => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(40)
    (0 until cases).foreach { i =>
      g.apply(params, Seed(42L + i)).foreach(body)
    }
  }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], cases: Int = 5)(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), cases) { case (a, b) => body(a, b) }

  private def forAll3[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C], cases: Int = 5)(
      body: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc), cases) { case (a, b, c) => body(a, b, c) }

  private val streamGen: Gen[List[(String, Long, Double)]] = for {
    nKeys <- Gen.choose(1, 5)
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, nKeys - 1)
      v <- Gen.choose(-1000, 1000)
    } yield (s"k$k", v.toDouble))
  } yield rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }

  test("property: latest-wins upsert == per-key argmax over ord") {
    forAll(streamGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "ord", "value")
        val got = Upsert.latest(df, "key", col("ord")).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
        val want = rows.groupBy(_._1).map { case (k, rs) =>
          val best = rs.maxBy(_._2)
          k -> ((best._2, best._3, rs.size.toLong))
        }
        assert(got == want)
      }
    }
  }

  test("property: sliding-window emissions per key == max(0, (n-w)/s + 1)") {
    forAll3(streamGen, Gen.choose(1, 8), Gen.choose(1, 5)) { (rows, w, s) =>
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "ord", "value")
        val got = Windows.sliding(df, "key", col("ord"), col("value"), w, s)
          .groupBy("key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = rows.groupBy(_._1).collect {
          case (k, rs) if rs.size >= w => k -> ((rs.size - w) / s + 1).toLong
        }
        assert(got == want)
      }
    }
  }

  test("property: tumbling windows emit exactly n/size complete windows of exact size") {
    forAll2(streamGen, Gen.choose(1, 7)) { (rows, wsz) =>
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "ord", "value")
        val out = Windows.tumbling(df, "key", col("ord"), col("value"), wsz)
          .select(col("key"), size(col("window_values")).as("n")).collect()
        assert(out.forall(_.getInt(1) == wsz))
        val counts = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
        val want = rows.groupBy(_._1).collect {
          case (k, rs) if rs.size >= wsz => k -> rs.size / wsz
        }
        assert(counts == want)
      }
    }
  }

  test("property: deterministic sampling keeps exactly the residue fraction") {
    forAll2(Gen.choose(1L, 500L), Gen.choose(2, 10)) { (n, mod) =>
      val df = spark.range(0, n).toDF("id")
      val kept = Shedding.sampleDeterministic(df, col("id"), mod, 1).count()
      // ids 0..n-1: exactly ceil(n/mod) have id % mod == 0
      assert(kept == (n + mod - 1) / mod)
    }
  }

  test("property: saltedSliding == sliding on dense per-key histories") {
    val gen = for {
      nKeys <- Gen.choose(1, 3)
      n <- Gen.choose(30, 120)
      w <- Gen.choose(2, 6)
      slide <- Gen.choose(1, 4)
      span <- Gen.choose(math.max(w, 8), 25)
    } yield (nKeys, n, w, slide, span)
    forAll(gen, cases = 4) { case (nKeys, n, w, slide, span) =>
      val rows = for (k <- 0 until nKeys; i <- 0 until n)
        yield (s"k$k", i.toLong, ((i * 31 + k) % 17).toDouble)
      val df = rows.toDF("key", "ord", "value")
      def norm(d: org.apache.spark.sql.DataFrame) = d
        .select("key", "_rn", "w_avg", "w_sum", "w_min", "w_max")
        .as[(String, Long, Double, Double, Double, Double)].collect().toSet
      val plain = norm(Windows.sliding(df, "key", col("ord"), col("value"), w, slide))
      val salted = norm(Windows.saltedSliding(
        df, "key", "ord", col("value"), w, slide, chunkSpan = span))
      assert(salted == plain, s"mismatch at nKeys=$nKeys n=$n w=$w s=$slide span=$span")
    }
  }

  test("property: asOfJoin == naive per-row at-or-before maximum") {
    forAll2(streamGen, streamGen) { (ls, rs) =>
      if (ls.nonEmpty) {
        val left = ls.map { case (k, o, _) => (k, o) }.toDF("key", "ord")
        val right = rs.toDF("key", "rord", "rval")
        val got = operators.Joins.asOfJoin(left, right, "key", "ord", "rord", "rval")
          .collect()
          .map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
        val want = ls.map { case (k, o, _) =>
          val before = rs.filter(r => r._1 == k && r._2 <= o)
          (k, o, if (before.isEmpty) None else Some(before.maxBy(_._2)._3))
        }.toSet
        assert(got == want)
      }
    }
  }

  test("property: evictable upsert without tombstones == plain latest-wins upsert") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    forAll(streamGen, cases = 2) { rows =>
      if (rows.nonEmpty) {
        val in = MemoryStream[graft.streaming.StreamingFeatures.EvictableUpdate]
        in.addData(rows.map { case (k, o, v) =>
          graft.streaming.StreamingFeatures.EvictableUpdate(k, o, v, tombstone = false)
        }: _*)
        val streamed = graft.streaming.StreamingFeatures.runToMemory(
          spark,
          graft.streaming.StreamingFeatures.latestPerKeyEvictable(spark, in.toDS()),
          s"t_prop_evict_${rows.hashCode.abs}",
          org.apache.spark.sql.streaming.OutputMode.Update())
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .groupBy(_._1).map { case (k, es) => k -> es.maxBy(_._4) } // final state per key
        val batch = Upsert.latest(rows.toDF("key", "ord", "value"), "key", col("ord"))
          .collect()
          .map(r => r.getString(0) -> ((r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))))
          .toMap
        assert(streamed.view.mapValues(t => (t._2, t._3)).toMap
          == batch.view.mapValues(t => (t._2, t._3)).toMap)
      }
    }
  }

  test("property: exact dedup conserves rows and canonical ids are group minima") {
    forAll(streamGen) { rows =>
      if (rows.nonEmpty) {
        // synthesize docs: value collisions produce duplicate texts
        val docs = rows.map { case (_, i, v) => (i, s"doc ${v.toLong}") }.toDF("doc_id", "text")
        val out = llm.Dedup.exact(docs, "doc_id", "text")
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        assert(out.map(_._2).sum == rows.length, "n_copies must sum to the corpus size")
        val byText = rows.groupBy { case (_, _, v) => s"doc ${v.toLong}" }
        val wantCanon = byText.values.map(_.map(_._2).min).toSet
        assert(out.map(_._1).toSet == wantCanon, "canonical id must be the group minimum doc_id")
      }
    }
  }

  test("property: mixture weights normalize and allocations never exceed the budget") {
    forAll2(streamGen, Gen.choose(1000L, 100000L)) { (rows, budget) =>
      if (rows.nonEmpty) {
        val docs = rows.map { case (k, i, v) => (k, i, math.abs(v.toLong) + 1) }
          .toDF("source", "doc_id", "toks")
        val out = llm.Mixture.temperatureWeights(docs, "source", col("toks"), budget)
          .collect()
          .map(r => (r.getAs[String]("grp"), r.getAs[Double]("weight"), r.getAs[Long]("alloc_tokens")))
        assert(math.abs(out.map(_._2).sum - 1.0) < 1e-9, "weights must normalize")
        assert(out.map(_._3).sum <= budget, "floor'd allocations must never exceed the budget")
        assert(out.forall(t => t._2 > 0 && t._3 >= 0))
      }
    }
  }

  test("mixture weights: zero-token slices and empty corpora never produce NaN (ADVICE r4)") {
    import spark.implicits._
    // one real slice, one all-zero-token slice
    val mixed = Seq(("a", 1L, 100L), ("b", 2L, 0L), ("b", 3L, 0L))
      .toDF("source", "doc_id", "toks")
    val out = llm.Mixture.temperatureWeights(mixed, "source", col("toks"), 1000L)
      .orderBy("grp")
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Double]("weight"), r.getAs[Double]("epochs")))
    assert(out.forall { case (_, w, e) => !w.isNaN && !e.isNaN && !e.isInfinite }, s"got ${out.toList}")
    assert(out.find(_._1 == "b").exists { case (_, w, e) => w == 0.0 && e == 0.0 })
    // all slices zero tokens: w_tot = 0 must not divide
    val empty = Seq(("a", 1L, 0L), ("b", 2L, 0L)).toDF("source", "doc_id", "toks")
    val out2 = llm.Mixture.temperatureWeights(empty, "source", col("toks"), 1000L)
      .collect().map(r => (r.getAs[Double]("weight"), r.getAs[Double]("epochs")))
    assert(out2.forall { case (w, e) => w == 0.0 && e == 0.0 }, s"got ${out2.toList}")
  }

  test("property: budget selection is the maximal rank-order prefix within budget") {
    forAll2(streamGen, Gen.choose(5L, 300L)) { (rows, budget) =>
      if (rows.nonEmpty) {
        val docs = rows.map { case (k, i, v) => (i, v, (math.abs(v.toLong) % 7) + 1) }
          .toDF("doc_id", "score", "toks")
        val kept = llm.Selection.selectByBudget(docs, "doc_id", "score", col("toks"), budget)
          .select("doc_id").as[Long].collect().toSet
        // reference: walk rows in (score desc, id) order accumulating
        val ordered = rows.map { case (_, i, v) => (i, v, (math.abs(v.toLong) % 7) + 1) }
          .sortBy { case (i, v, _) => (-v, i) }
        var cum = 0L
        val want = ordered.takeWhile { case (_, _, t) => { cum += t; cum <= budget } }
          .map(_._1).toSet
        assert(kept == want, s"budget=$budget")
      }
    }
  }

  test("property: containment bounds hold and containment >= jaccard per pair") {
    forAll(streamGen, cases = 3) { rows =>
      if (rows.nonEmpty) {
        val docs = rows.map { case (_, i, v) =>
          (i, s"w${v.toLong % 5} w${(v.toLong + 1) % 5} w${(v.toLong + 2) % 5} w${i % 3} tail")
        }.toDF("doc_id", "text")
        val cont = llm.Dedup.containmentPairs(docs, "doc_id", "text", minContainment = 0.0)
          .select("doc_a", "doc_b", "cont_a", "cont_b")
          .as[(Long, Long, Double, Double)].collect()
          .map { case (a, b, ca, cb) => (a, b) -> ((ca, cb)) }.toMap
        val jac = llm.Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.0)
          .select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect()
          .map { case (a, b, j) => (a, b) -> j }.toMap
        assert(cont.keySet == jac.keySet)
        cont.foreach { case (pair, (ca, cb)) =>
          assert(ca > 0 && ca <= 1.0 && cb > 0 && cb <= 1.0)
          val j = jac(pair)
          assert(ca >= j - 1e-12 && cb >= j - 1e-12,
            s"containment must dominate jaccard at $pair: $ca/$cb vs $j")
        }
      }
    }
  }

  private val graphGen: Gen[(List[(Long, Long, Long)], List[Long], Int)] = for {
    nNodes <- Gen.choose(3, 10)
    nEdges <- Gen.choose(2, 25)
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0, nNodes - 1)
      d <- Gen.choose(0, nNodes - 1)
      w <- Gen.choose(1, 9)
    } yield (s.toLong, d.toLong, w.toLong))
    nSeeds <- Gen.choose(1, 2)
    seeds <- Gen.listOfN(nSeeds, Gen.choose(0, nNodes - 1).map(_.toLong))
    hops <- Gen.choose(0, 6)
  } yield (edges, seeds, hops)

  test("property: shortestPaths == driver Bellman-Ford reference at every hop bound") {
    forAll(graphGen, cases = 6) { case (edges, seeds, hops) =>
      // reference: hop-bounded Bellman–Ford over the min-weight edge map
      val eMin = edges.groupBy(e => (e._1, e._2)).map { case (k, es) => k -> es.map(_._3).min }
      var ref = seeds.distinct.map(_ -> 0L).toMap
      for (_ <- 1 to hops) {
        val relaxed = ref.toSeq.flatMap { case (n, d0) =>
          eMin.collect { case ((s, d), w) if s == n => d -> (d0 + w) }
        }
        ref = (ref.toSeq ++ relaxed).groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
      }
      val got = graft.operators.Graph.shortestPaths(
          edges.toDF("src", "dst", "w"), "src", "dst",
          seeds.map(Tuple1(_)).toDF("node"), maxHops = hops, weight = Some(col("w")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"edges=$edges seeds=$seeds hops=$hops: $got vs $ref")
    }
  }

  private val vecGen: Gen[(List[Double], List[Double])] = for {
    d <- Gen.choose(1, 8)
    v <- Gen.listOfN(d, Gen.choose(-99999, 99999).map(_ / 1000.0))
    w <- Gen.listOfN(d, Gen.choose(-999, 999).map(_ / 1000.0))
  } yield (v, w)

  test("property: fixed-point projection == BigDecimal replica, exactly") {
    forAll(vecGen, cases = 8) { case (v, w) =>
      def d6(x: Double) = new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      val wq = w.map(d6)
      val got = llm.Embeddings.project(
          Seq((1L, v.map(_.toFloat))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", wq, d6(0.0))
        .collect().head.getDouble(1)
      // replica: micro-unit longs, one closing division — the operator's
      // documented op sequence
      val sum = v.zip(wq).map { case (x, wi) =>
        d6(x.toFloat.toDouble).movePointRight(6).longValueExact *
          wi.movePointRight(6).longValueExact
      }.sum
      assert(got == sum.toDouble / 1.0e12, s"v=$v w=$w: $got vs ${sum.toDouble / 1.0e12}")
    }
  }

  private val undirGen: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.choose(3, 8)
    nEdges <- Gen.choose(2, 14)
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0, nNodes - 1)
      d <- Gen.choose(0, nNodes - 1)
    } yield (s.toLong, d.toLong))
  } yield {
    val clean = edges.filter(e => e._1 != e._2)
    if (clean.nonEmpty) clean else List((0L, 1L))
  }

  test("property: harmonicCentrality with uncapped sketches == driver BFS reference") {
    forAll2(undirGen, Gen.choose(1, 4), cases = 5) { (edges, hops) =>
      val adj = (edges ++ edges.map(_.swap)).distinct
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      val nodes = adj.keySet
      // reference replays the operator's op sequence: ball counts per
      // hop, then the fixed left-to-right (c_t − c_{t−1})/t chain
      def ballSizes(v: Long): Seq[Long] = {
        var ball = Set(v)
        (1 to hops).map { _ =>
          ball = ball ++ ball.flatMap(adj.getOrElse(_, Set.empty))
          ball.size.toLong
        }
      }
      val ref = nodes.map { v =>
        val c = 1L +: ballSizes(v)
        v -> (1 to hops).map(t => (c(t) - c(t - 1)).toDouble / t.toDouble).reduce(_ + _)
      }.toMap
      val got = graft.operators.Graph.harmonicCentrality(
          edges.toDF("src", "dst"), "src", "dst", maxHops = hops, k = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got == ref, s"edges=$edges hops=$hops: $got vs $ref")
    }
  }

  test("property: two-level Louvain never loses modularity vs the move phase") {
    forAll(undirGen, cases = 5) { edges =>
      val df = edges.toDF("src", "dst")
      val l1 = graft.operators.Graph.louvainMoves(df, "src", "dst", iters = 4)
      val l2 = graft.operators.Graph.louvainTwoLevel(df, "src", "dst", 4, 4)
      val q1 = graft.operators.Graph.modularity(df, "src", "dst", l1)
        .collect().head.getAs[Double]("q_total")
      val q2 = graft.operators.Graph.modularity(df, "src", "dst", l2)
        .collect().head.getAs[Double]("q_total")
      assert(q2 >= q1, s"edges=$edges: l2 $q2 < l1 $q1")
    }
  }

  test("property: closeness + neighborhood function with uncapped sketches == driver BFS reference") {
    forAll2(undirGen, Gen.choose(1, 4), cases = 5) { (edges, hops) =>
      val adj = (edges ++ edges.map(_.swap)).distinct
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      val nodes = adj.keySet
      def balls(v: Long): Seq[Long] = {
        var ball = Set(v)
        (1 to hops).map { _ =>
          ball = ball ++ ball.flatMap(adj.getOrElse(_, Set.empty))
          ball.size.toLong
        }
      }
      // closeness reference: the operator's own op sequence
      val refC = nodes.map { v =>
        val c = 1L +: balls(v)
        val sd = (1 to hops).map(t => (c(t) - c(t - 1)).toDouble * t.toDouble).reduce(_ + _)
        v -> (if (sd > 0) (c(hops).toDouble - 1.0) / sd else Double.NaN)
      }.toMap
      val gotC = graft.operators.Graph.closenessCentrality(
          edges.toDF("src", "dst"), "src", "dst", maxHops = hops, k = 64)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(hops + 3)) Double.NaN else r.getDouble(hops + 3))).toMap
      assert(gotC.keySet == refC.keySet &&
        gotC.forall { case (n, v) => (v.isNaN && refC(n).isNaN) || v == refC(n) },
        s"edges=$edges hops=$hops: $gotC vs $refC")
      // neighborhood function reference: exact integer ball totals
      val refNf = (0 to hops).map(t =>
        if (t == 0) nodes.size.toLong else nodes.toSeq.map(v => balls(v)(t - 1)).sum)
      val gotNf = graft.operators.Graph.neighborhoodFunction(
          edges.toDF("src", "dst"), "src", "dst", maxHops = hops, k = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert((0 to hops).forall(t => gotNf(t.toLong) == refNf(t).toDouble),
        s"edges=$edges hops=$hops: $gotNf vs $refNf")
    }
  }

  test("property: multi-level Louvain modularity is monotone in maxLevels") {
    forAll(undirGen, cases = 4) { edges =>
      val df = edges.toDF("src", "dst")
      val qs = (1 to 3).map { lv =>
        val m = graft.operators.Graph.louvainMultiLevel(df, "src", "dst", 4, lv)
        graft.operators.Graph.modularity(df, "src", "dst", m)
          .collect().head.getAs[Double]("q_total")
      }
      assert(qs.sliding(2).forall(p => p(0) <= p(1)),
        s"edges=$edges: Q must not drop across levels: $qs")
    }
  }

  test("property: empty-delta pageRankDelta == the straight-run resume identity") {
    forAll(undirGen, cases = 4) { edges =>
      val df = edges.toDF("src", "dst")
      val none = df.limit(0)
      val g = graft.operators.Graph.pageRank(df, "src", "dst")
      val viaDelta = g.mutate(none, none).ranks(2, init = Some(g.ranks(3)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val straight = graft.operators.Graph.pageRank(df, "src", "dst").ranks(5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaDelta == straight, s"edges=$edges")
    }
  }

  /** Directed multigraphs (duplicate edges kept) with a non-empty
    * delta: `removed` hits existing edges (and one that may not exist),
    * `added` may repeat edges already present.
    */
  private val deltaGen: Gen[(List[(Long, Long)], List[(Long, Long)], List[(Long, Long)])] = for {
    nNodes <- Gen.choose(3, 7)
    pair = for {
      s <- Gen.choose(0, nNodes - 1)
      d <- Gen.choose(0, nNodes - 1)
    } yield (s.toLong, d.toLong)
    base <- Gen.listOfN(12, pair)
    dups <- Gen.choose(1, 4)
    nAdd <- Gen.choose(1, 4)
    added <- Gen.listOfN(nAdd, pair)
    nRem <- Gen.choose(1, 3)
    removed <- Gen.listOfN(nRem, Gen.oneOf(base))
    stray <- pair
  } yield (base ++ base.take(dups), added, stray :: removed)

  test("property: mutate on the prepared distinct edges == preparing (edges ∖ removed) ∪ added") {
    forAll(deltaGen, cases = 4) { case (edges, added, removed) =>
      val g = graft.operators.Graph.pageRank(edges.toDF("src", "dst"), "src", "dst")
      val init = g.ranks(2)
      val viaMutate = g.mutate(added.toDF("src", "dst"), removed.toDF("src", "dst"))
        .ranks(3, init = Some(init))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val raw = edges.filterNot(removed.toSet) ++ added
      val viaRaw = graft.operators.Graph.pageRank(raw.toDF("src", "dst"), "src", "dst")
        .ranks(3, init = Some(init))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(viaMutate == viaRaw, s"edges=$edges added=$added removed=$removed")
    }
  }

  private val binsGen: Gen[List[(Int, Int)]] = for {
    b <- Gen.choose(1, 7)
    bins <- Gen.listOfN(b, for {
      n <- Gen.choose(1, 9)
      k <- Gen.choose(0, 9)
    } yield (n, math.min(k, n)))
  } yield bins

  test("property: isotonic minimax fit == exact-rational stack PAV") {
    forAll(binsGen, cases = 8) { bins =>
      val b = bins.length
      val rows = bins.zipWithIndex.flatMap { case ((n, k), i) =>
        val score = (i + 0.5) / 8.0 // lands in bin i of 8
        (1 to k).map(_ => (score, 1)) ++ (1 to (n - k)).map(_ => (score, 0))
      }
      val got = graft.llm.Classify.isotonicCalibration(
          rows.toDF("score", "y"), "y", "score", bins = 8)
        .orderBy("bin").collect().map(_.getDouble(4)).toSeq
      // reference: classic stack PAV with exact rational comparisons
      case class Pool(var k: Long, var n: Long)
      val st = scala.collection.mutable.ArrayBuffer.empty[Pool]
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      bins.foreach { case (n, k) =>
        st += Pool(k.toLong, n.toLong); sizes += 1
        while (st.length >= 2 &&
            st(st.length - 2).k * st.last.n >= st.last.k * st(st.length - 2).n) {
          val t = st.remove(st.length - 1); val ts = sizes.remove(sizes.length - 1)
          st.last.k += t.k; st.last.n += t.n; sizes(sizes.length - 1) += ts
        }
      }
      val ref = st.zip(sizes).flatMap { case (p, c) =>
        Seq.fill(c)(p.k.toDouble / p.n.toDouble) }.toSeq
      assert(got == ref, s"bins=$bins: $got vs $ref")
      assert(got.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("property: nelsonAalen == driver hazard fold from per-key lifetimes") {
    forAll(streamGen) { rows =>
      if (rows.nonEmpty) {
        // periods from ord/7 so keys span several periods with ties
        val obs = rows.map { case (k, o, _) => (k, o / 7) }
        val got = graft.operators.Funnel.nelsonAalen(
            obs.toDF("k", "m"), "k", col("m"), gracePeriods = 1L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        val byK = obs.groupBy(_._1).toSeq.map { case (_, os) =>
          (os.map(_._2).min, os.map(_._2).max) }
        val obsEnd = byK.map(_._2).max
        val lifet = byK.groupBy { case (fm, lm) => lm - fm }.map { case (t, ks) =>
          t -> (ks.size.toLong, ks.count(_._2 < obsEnd - 1).toLong) }
        var n = byK.size.toLong
        var h = 0L
        val ref = (0L to lifet.keys.max).map { t =>
          val (a, d) = lifet.getOrElse(t, (0L, 0L))
          h += math.floor(1.0e9 * d.toDouble / n.toDouble + 0.5).toLong
          val row = (t, n, d, h.toDouble / 1.0e9)
          n -= a
          row
        }
        assert(got.toSeq == ref, s"obs=$obs")
      }
    }
  }

  test("property: keepIncreasing output is strictly increasing per key and keeps the max") {
    forAll(streamGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "ord", "value")
        val kept = Shedding.keepIncreasing(df, "key", col("ord"), col("value"))
          .orderBy("key", "ord").select("key", "value").as[(String, Double)].collect()
        kept.groupBy(_._1).foreach { case (k, vs) =>
          val seq = vs.map(_._2).toList
          assert(seq == seq.distinct.sorted) // strictly increasing
          assert(seq.last == rows.filter(_._1 == k).map(_._3).max) // max survives
        }
      }
    }
  }
}
