package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds
import graft.metrics.Capture
import graft.operators.Graph

/** The round driver every iterative operator runs on: round labels on
  * jobs, the per-round job cost of each loop, the stats reset of the
  * in-loop checkpoint, and the one-scan symmetrizing preps.
  */
class RoundsSpec extends SparkSpec {

  import spark.implicits._

  private def twoTriangles: DataFrame =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")

  private def chain(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")

  private def withoutAqe[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // (operator label, the call, its exact Spark jobs per round). From
  // round 2 on every round runs the same job set. Round 1 can differ:
  // it reads the prep's frames, whose size estimates let the static
  // planner broadcast, where later rounds read a stats-reset round
  // checkpoint and AQE re-plans after a shuffle stage.
  private lazy val loops: Seq[(String, () => Any, Seq[Int])] = Seq(
    ("pageRank", () => Graph.pageRank(chain(6), "src", "dst").ranks(4).collect(),
      Seq(5, 6, 6, 6)),
    ("shortestPaths", () => Graph.shortestPaths(chain(6), "src", "dst",
      Seq(0L).toDF("node"), maxHops = 4).collect(), Seq(5, 7, 7, 7)),
    ("labelPropagation", () => Graph.labelPropagation(twoTriangles, "src", "dst", 4).collect(),
      Seq(6, 7, 7, 7)),
    ("connectedComponents", () => Graph.connectedComponents(chain(16), "src", "dst").collect(),
      Seq(9, 10, 10, 10)),
    ("kCore", () => Graph.kCore(chain(6).union(twoTriangles), "src", "dst", 2, 5).collect(),
      Seq(4, 5)),
    ("hits", () => Graph.hits(chain(6), "src", "dst", 3).collect(), Seq(14, 14, 14)),
    ("louvainWeightedCore", () => Graph.louvainMoves(twoTriangles, "src", "dst", 4).collect(),
      Seq(11, 12, 12, 12)),
    // pinned with AQE off: under AQE a level's label self-joins (the ΔQ
    // audit, the contraction) run as many stage jobs as the order their
    // shuffle stages finish in allows (level 1: 20, 21 or 22 over
    // repeated runs), so only the static plan has an exact count — two
    // actions per level (the core's m2 and the ΔQ collect); the lazy
    // compose/contract checkpoints add none
    ("louvainMultiLevel", () => withoutAqe(
      Graph.louvainMultiLevel(twoTriangles, "src", "dst", 2, 3).collect()), Seq(2, 2, 2)),
    ("ballEstimates", () => Graph.harmonicCentrality(chain(6), "src", "dst", 3).collect(),
      Seq(3, 3, 3)),
    ("learnMerges", () => graft.llm.Bpe.learnMerges(spark,
      Seq(Tuple1("low low low lower lowest")).toDF("text"), "text", 3).collect(), Seq(2, 2, 2)),
    ("greedyCoverage", () => graft.llm.Selection.greedyCoverage(spark,
      Seq((1L, "a b c d"), (2L, "a b c"), (3L, "x y z w v"), (4L, "x y z e f")).toDF("doc_id", "text"),
      "doc_id", "text", 3).collect(), Seq(3, 6, 6)),
    ("logisticTrain", () => graft.llm.Classify.logisticTrain(
      (0 until 20).map(i => (i / 19.0, if (i >= 10) 1 else 0)).toDF("x", "y"),
      "y", Seq("x"), iters = 3, lr = 1.0), Seq(1, 1, 1)),
    ("refineCentroids", () => graft.llm.Similarity.ivfTopK(
      (0 until 40).map(i => (i.toLong, Seq(1.0 + i % 4, (i % 3).toDouble, 0.5))).toDF("id", "v"),
      "id", "v", col("vid") % 10 === 0, 3, numCentroids = 4, nProbe = 1, refineIters = 3).collect(),
      Seq(5, 6, 6)),
    // pinned with AQE off, as louvainMultiLevel: under AQE rounds 2 and 3
    // ran 7 or 8 jobs over repeated runs (3 runs of 10 in one JVM)
    ("bradleyTerry", () => withoutAqe(graft.llm.Preference.bradleyTerry(
      Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("w", "l"),
      "w", "l", iters = 3).collect()), Seq(7, 5, 5)),
    // pinned with AQE off too: under AQE round 1 ran 6 or 7 jobs over
    // repeated runs (rounds 2.. ran 8 in every run); the static plan
    // broadcasts round 1's selection, which has no stats reset
    ("mmrTopK", () => withoutAqe(graft.llm.Similarity.mmrTopK(
      (0 until 24).map(i => (i.toLong, Seq(1.0 + i % 4, (i % 3).toDouble, 0.5 + i % 5))).toDF("id", "v"),
      "id", "v", col("vid") % 8 === 0, k = 4, candDepth = 6).collect()), Seq(2, 1, 1))
  )

  test("every loop runs on Rounds: exact Spark jobs per round, steady from round 2") {
    loops.foreach { case (op, call, want) =>
      val cap = Capture.run(spark)(call())
      // the loop's own rounds; a nested run's rounds have longer labels
      val own = cap.roundJobs.filter { case (label, _) => label.count(_ == '/') == 1 }
      assert(own.keys.toSeq == want.indices.map(i => s"$op/round-${i + 1}"),
        s"$op: round labels ${cap.roundJobs.keys}")
      assert(own.values.toSeq == want, s"$op: jobs per round ${cap.roundJobs}")
      assert(want.tail.distinct.size <= 1, s"$op: rounds 2.. must run the same jobs: $want")
      assert(cap.roundJobs.values.sum <= cap.jobs)
      if (op == "louvainMultiLevel")
        assert(cap.roundJobs.keys.toSeq.contains(
          "louvainMultiLevel/round-2/louvainWeightedCore/round-1"), cap.roundJobs.keys)
    }
  }

  test("round labels nest, restore the caller's value and leave the job group alone") {
    val sc = spark.sparkContext
    val cap = Capture.run(spark) {
      Rounds.run("outer", 0, 2) { (s, _) =>
        spark.range(3).collect()
        val inner = Rounds.run("inner", s, 1) { (t, _) => spark.range(2).collect(); (t + 1, false) }
        assert(inner.rounds == 1 && !inner.converged)
        (inner.state, false)
      }
    }
    assert(cap.value == Rounds.Outcome(2, 2, converged = false))
    assert(cap.roundJobs.toSeq == Seq(
      "outer/round-1" -> 1, "outer/round-1/inner/round-1" -> 1,
      "outer/round-2" -> 1, "outer/round-2/inner/round-1" -> 1))
    assert(cap.jobs == 4, "every round job still counts under the capture's job group")
    assert(sc.getLocalProperty(Rounds.Label) == null)
    // a step saying done stops the loop; 0 rounds returns init
    assert(Rounds.run("stop", 0, 9)((s, r) => (s + r, r == 3)) == Rounds.Outcome(6, 3, converged = true))
    assert(Rounds.run("none", 7, 0)((s, _) => (s + 1, false)) == Rounds.Outcome(7, 0, converged = false))
    val failed = intercept[IllegalStateException](throw Rounds.NotConverged("someOp", 5))
    assert(failed.getMessage == "someOp did not converge in 5 rounds")
  }

  test("Rounds.checkpoint keeps a self-joining loop's size estimate flat over 8 rounds") {
    val start = spark.range(64).select(col("id").as("k"), (col("id") % 7).as("v"))
      .localCheckpoint(false)
    // each round joins the previous round's checkpoint to itself (the
    // louvain wedge shape) and records the join plan's size estimate
    def estimates(ckpt: DataFrame => DataFrame): Seq[BigInt] =
      Rounds.run("selfJoin", (start, Seq.empty[BigInt]), 8) { case ((prev, seen), _) =>
        val joined = prev.as("a").join(prev.as("b"), "k")
          .select(col("k"), ((col("a.v") + col("b.v")) % 7).as("v"))
        ((ckpt(joined), seen :+ joined.queryExecution.optimizedPlan.stats.sizeInBytes), false)
      }.state._2
    val reset = estimates(Rounds.checkpoint)
    assert(reset.tail.distinct.size == 1, s"estimate must stay flat: $reset")
    // the control: a plain checkpoint carries the estimate, which compounds
    val carried = estimates(_.localCheckpoint(false))
    assert(carried.zip(carried.tail).forall { case (a, b) => b > a }, s"control: $carried")
    assert(carried.last.toString.length > reset.last.toString.length * 10)
  }

  test("the symmetrizing preps read their input plan once") {
    val rows = spark.sparkContext.longAccumulator("sym-input-rows")
    val tick = udf { (x: Long) => rows.add(1L); x }.asNondeterministic()
    val edges = spark.range(400)
      .select(tick(col("id") % 97).as("src"), (col("id") * 7 % 89 + 100).as("dst"))
    Seq[(String, () => Any)](
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst", 2).collect()),
      "kCore" -> (() => Graph.kCore(edges, "src", "dst", 2, 3).collect()),
      "harmonicCentrality" -> (() => Graph.harmonicCentrality(edges, "src", "dst", 2).collect()),
      "bothWays" -> (() => Graph.bothWays(edges, "src", "dst").distinct().collect())
    ).foreach { case (name, call) =>
      rows.reset()
      call()
      assert(rows.value == 400L, s"$name: the input ran ${rows.value / 400.0} times over")
    }
    // both orientations of every row, extra columns carried
    val w = Seq((1L, 2L, 5L)).toDF("src", "dst", "w")
    assert(Graph.bothWays(w, "src", "dst").as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 2L, 5L), (2L, 1L, 5L)))
  }
}
