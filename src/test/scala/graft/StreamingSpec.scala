package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, posexplode}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingFeatures
import graft.streaming.StreamingFeatures.Update

/** Streaming semantics vs the reference's eager push loop: state
  * correctness across micro-batches (each addData+trigger = one batch).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streaming latest-per-key upsert folds across micro-batches") {
    val in = MemoryStream[Update]
    in.addData(Update("a", 1, 10.0), Update("a", 2, 5.0), Update("b", 1, 1.0))
    in.addData(Update("a", 3, 42.0), Update("b", 0, 99.0)) // b's ord 0 is stale
    val out = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.latestPerKey(spark, in.toDS()), "t_latest")
    // memory sink in Update mode appends each emitted update; the last
    // row per key is the current state
    val last = out.collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._3) }
    assert(last("a") == ((3L, 42.0, 3L)))
    assert(last("b") == ((1L, 1.0, 2L))) // stale ord 0 counted but not applied
  }

  test("streaming logistic scoring: the stateless scorer matches batch row-for-row") {
    import spark.implicits._
    // trained weights are a driver-side artifact (micro-unit longs), so
    // the scorer is a pure projection — it drops into readStream
    // pipelines with no state store involved
    val wu = Array(100000L, 2000000L) // bias 0.1, slope 2.0
    val rows = Seq((1L, 0.1), (2L, 0.9), (3L, -0.4))
    val in = MemoryStream[(Long, Double)]
    in.addData(rows.take(2): _*)
    in.addData(rows.drop(2): _*)
    val streamed = StreamingFeatures.runToMemory(
      spark,
      graft.llm.Classify.logisticScore(in.toDS().toDF("id", "x"), "id", Seq("x"), wu),
      "t_lr_score", OutputMode.Append())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val batch = graft.llm.Classify.logisticScore(rows.toDF("id", "x"), "id", Seq("x"), wu)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(streamed == batch, s"stream $streamed must equal batch $batch")
    assert(batch(3L)._3 == false && batch(2L)._3 == true) // signs split as the margin says
  }

  test("streaming tumbling count window buffers across batches and resets") {
    val in = MemoryStream[Update]
    in.addData(Update("k", 1, 1.0), Update("k", 2, 2.0))
    in.addData(Update("k", 3, 3.0), Update("k", 4, 4.0), Update("k", 5, 5.0))
    val out = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.tumblingCountWindow(spark, in.toDS(), size = 3),
      "t_win", OutputMode.Append())
    val wins = out.collect().map(r =>
      r.getLong(1) -> r.getSeq[Double](2).toList).toMap
    assert(wins == Map(0L -> List(1.0, 2.0, 3.0))) // second window incomplete: not emitted
  }

  test("streaming sliding count window matches the batch formulation") {
    val data = (1 to 23).map(i => Update("k", i.toLong, i.toDouble))
    val in = MemoryStream[Update]
    in.addData(data.take(9): _*)
    in.addData(data.drop(9): _*)
    val out = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.slidingCountWindow(spark, in.toDS(), windowSize = 5, slideSize = 3),
      "t_slide", org.apache.spark.sql.streaming.OutputMode.Append())
    val wins = out.collect().map(r => r.getLong(1) -> r.getSeq[Double](2).toList).toMap
    // batch semantics: emissions at seen = 5, 8, 11, ..., 23 -> 7 windows
    assert(wins.size == (23 - 5) / 3 + 1)
    assert(wins(0L) == List(1.0, 2.0, 3.0, 4.0, 5.0))
    assert(wins(6L) == List(19.0, 20.0, 21.0, 22.0, 23.0))
    // trailing-window sums match Windows.sliding on the same data
    val batch = graft.operators.Windows.sliding(
      data.toDF("key", "ord", "value"), "key",
      org.apache.spark.sql.functions.col("ord"),
      org.apache.spark.sql.functions.col("value"), 5, 3)
      .select("w_sum").as[Double].collect().sorted.toList
    assert(wins.values.map(_.sum).toList.sorted == batch)
  }

  test("streaming weighted sample: prefix and final selections equal the batch A-Res") {
    import graft.streaming.StreamingFeatures.WeightedDoc
    val all = (1L to 120L).map(i =>
      WeightedDoc(if (i % 2 == 0) "g1" else "g2", i, 1.0 + (i % 7).toDouble))
    val (b1, b2) = all.partition(_.id <= 60)
    def batchSel(docs: Seq[WeightedDoc]): Set[(String, Long)] =
      graft.operators.Shedding.weightedSample(
          spark, docs.toDF("group", "id", "weight"), "group", "id", col("weight"), k = 8)
        .select("group", "id").as[(String, Long)].collect().toSet
    val in = MemoryStream[WeightedDoc]
    // continuous trigger: AvailableNow would fold both adds into ONE
    // micro-batch and never exercise the cross-batch state handoff
    val q = StreamingFeatures.weightedSampleStream(spark, in.toDS(), k = 8)
      .writeStream.format("memory").queryName("t_wsamp")
      .outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      // snapshot after batch 1 IS the prefix selection
      val prefix = spark.table("t_wsamp")
        .select("group", "id").as[(String, Long)].collect().toSet
      assert(prefix == batchSel(b1), "mid-stream selection must equal batch-on-prefix")
      in.addData(b2: _*); q.processAllAvailable()
      // every final member was emitted in some batch and dominates all
      // other emitted rows by esKey — so the per-group top-k over the
      // distinct emitted rows is the final selection
      val fin = spark.table("t_wsamp").distinct()
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortBy(e => (-e._3, e._2)).take(8)
        }.map(e => (e._1, e._2)).toSet
      assert(fin == batchSel(all), "final selection must equal batch-on-everything")
    } finally q.stop()
  }

  test("streaming rolling slope: bit-identical to the batch window across micro-batches") {
    // -0.125·i lands cent values on NEGATIVE half-cent boundaries
    // (e.g. -87.5), where math.round (floor(x+0.5) → -87) and the
    // batch's BigDecimal HALF_UP (→ -88) disagree — ADVICE r7 pin
    val evs = (1 to 30).map(i =>
      Update(if (i % 2 == 0) "a" else "b", i.toLong, (i % 7) - 0.125 * i))
    val (b1, b2) = evs.partition(_.ord <= 15)
    val in = MemoryStream[Update]
    val q = StreamingFeatures.rollingSlopeStream(spark, in.toDS(), windowSize = 4)
      .writeStream.format("memory").queryName("t_slope").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("t_slope")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val batch = graft.operators.Windows.rollingSlope(
          evs.toDF("key", "ord", "v"), "key",
          org.apache.spark.sql.functions.col("ord"),
          org.apache.spark.sql.functions.col("v"), windowSize = 4)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          Option(r.getAs[java.lang.Double]("slope")).map(_.doubleValue)).toMap
      assert(streamed.keySet == batch.keySet,
        s"same complete windows must emit: ${streamed.keySet} vs ${batch.keySet}")
      for ((k, v) <- batch)
        assert(streamed(k) == v, s"window $k: streamed ${streamed(k)} vs batch $v")
    } finally q.stop()
  }

  test("streaming rolling z-score: bit-identical to the batch lookback across micro-batches") {
    // negative half-cent boundaries as in the slope test (ADVICE r7)
    val evs = (1 to 30).map(i =>
      Update(if (i % 2 == 0) "a" else "b", i.toLong, (i % 7) - 0.125 * i))
    val (b1, b2) = evs.partition(_.ord <= 15)
    val in = MemoryStream[Update]
    val q = StreamingFeatures.rollingZScoreStream(spark, in.toDS(),
        windowSize = 4, threshold = 1.5)
      .writeStream.format("memory").queryName("t_zs").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("t_zs")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3))).toMap
      val batch = graft.operators.Windows.rollingZScore(
          evs.toDF("key", "ord", "v"), "key",
          org.apache.spark.sql.functions.col("ord"),
          org.apache.spark.sql.functions.col("v"), windowSize = 4, threshold = 1.5)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
            r.getAs[Boolean]("is_anomaly")))).toMap
      assert(streamed.keySet == batch.keySet,
        s"same complete lookbacks must emit: ${streamed.keySet} vs ${batch.keySet}")
      for ((k, v) <- batch)
        assert(streamed(k) == v, s"event $k: streamed ${streamed(k)} vs batch $v")
      assert(batch.values.exists(_._2), "the test stream must contain at least one anomaly")
    } finally q.stop()
  }

  test("streaming cusum: exact integer fold equals batch across micro-batch boundaries") {
    // drift key "a" high past the threshold (restart inside batch 2),
    // key "b" low; a state handoff lands mid-excursion
    val evs = (1 to 24).map(i =>
      Update(if (i % 2 == 0) "a" else "b", i.toLong,
        if (i % 2 == 0) 60.0 + i * 0.755 else 40.0 - i * 0.505))
    val (b1, b2) = evs.partition(_.ord <= 12)
    val in = MemoryStream[Update]
    val q = StreamingFeatures.cusumStream(spark, in.toDS(),
        target = 5000L, slack = 200L, threshold = 3000L)
      .writeStream.format("memory").queryName("t_cusum").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("t_cusum")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val quant = evs.toDF("key", "ord", "v").select(
        org.apache.spark.sql.functions.col("key"),
        org.apache.spark.sql.functions.col("ord"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("v") * 100).cast("long").as("vc"))
      val batch = graft.operators.Windows.cusum(quant, "key", "ord", "vc",
          target = 5000L, slack = 200L, threshold = 3000L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getAs[Long]("cusum_pos"), r.getAs[Long]("cusum_neg"),
            r.getAs[Long]("alarm")))).toMap
      assert(streamed.keySet == batch.keySet)
      for ((k, v) <- batch)
        assert(streamed(k) == v, s"event $k: streamed ${streamed(k)} vs batch $v")
      assert(batch.values.exists(_._4 == 1L), "the high side must alarm")
      assert(batch.values.exists(_._4 == -1L), "the low side must alarm")
    } finally q.stop()
  }

  test("streaming running sum accumulates per key") {
    val in = MemoryStream[Update]
    in.addData((1 to 10).map(i => Update("k", i.toLong, i.toDouble)): _*)
    val out = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.runningSum(spark, in.toDS()), "t_sum")
    val fin = out.collect().map(r => (r.getDouble(1), r.getLong(2))).maxBy(_._2)
    assert(fin == ((55.0, 10L)))
  }

  test("streaming decayed features: incremental rescale matches the direct fold") {
    val events = Seq(
      Update("a", 0L, 8.0), Update("a", 500L, 4.0), Update("a", 1000L, 2.0),
      Update("a", 750L, 6.0), // late relative to 1000 when folded in order
      Update("b", 9000L, 6.0))
    val in = MemoryStream[Update]
    in.addData(events: _*)
    val out = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.decayedSumStream(spark, in.toDS(), halfLife = 500L),
      "t_decay")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._4) }
    // direct order-independent reference: sum of terms anchored at max ord
    def ref(evs: Seq[Update]): (Long, Double, Double) = {
      val tRef = evs.map(_.ord).max
      val terms = evs.map(u => (u.value * math.exp((u.ord - tRef).toDouble / 500.0
        * 0.6931471805599453), math.exp((u.ord - tRef).toDouble / 500.0 * 0.6931471805599453)))
      (tRef, terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val (ta, sa, ca) = ref(events.filter(_.key == "a"))
    val a = out("a")
    assert(a._1 == ta && a._4 == 4L)
    assert(math.abs(a._2 - sa) < 1e-9 && math.abs(a._3 - ca) < 1e-9,
      s"stream ${a._2}/${a._3} vs direct $sa/$ca")
    assert(out("b") == ((9000L, 6.0, 1.0, 1L)))

    // late-arrival branch (a sorted single batch never takes it): the
    // same four events folded with 750 arriving LAST agree with the
    // same order-independent reference
    import graft.streaming.StreamingFeatures.{foldDecay, DecayState}
    val lateOrder = Seq(
      Update("a", 0L, 8.0), Update("a", 500L, 4.0), Update("a", 1000L, 2.0),
      Update("a", 750L, 6.0))
    val folded = lateOrder.foldLeft(DecayState("a", Long.MinValue, 0.0, 0.0, 0L))(
      (s, u) => foldDecay(s, u, 500L))
    assert(folded.tRef == ta && folded.nEvents == 4L)
    assert(math.abs(folded.decayedSum - sa) < 1e-9 && math.abs(folded.decayedCount - ca) < 1e-9)
  }

  test("streaming funnel progress equals the batch greedy matching") {
    import graft.streaming.StreamingFeatures.TypedEvent
    val events = Seq(
      TypedEvent("u1", 10L, "click"), TypedEvent("u1", 20L, "view"),
      TypedEvent("u1", 30L, "click"), TypedEvent("u1", 40L, "purchase"),
      TypedEvent("u2", 10L, "view"), TypedEvent("u2", 30L, "click"),
      TypedEvent("u2", 20L, "purchase"),
      TypedEvent("u3", 5L, "view"), TypedEvent("u3", 6L, "error"))
    val steps = Seq("view", "click", "purchase")
    val in = MemoryStream[TypedEvent]
    in.addData(events: _*)
    val streamed = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.funnelStream(spark, in.toDS(), steps), "t_funnel")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2)._3 }
    val batch = graft.operators.Funnel.ordered(
        events.toDF().select(col("key").as("user_id"), col("ord"), col("etype")),
        "user_id", col("ord"), col("etype"), steps)
      .collect().map { r =>
        r.getString(0) -> (2 to 4).flatMap(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
      }.toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed("u1") == Seq(20L, 30L, 40L))
  }

  test("streaming transitions: aggregated pairs equal the batch Markov matrix") {
    import graft.streaming.StreamingFeatures.TypedEvent
    // unique per-key ordinals (the documented contract); the u1/u2
    // streams CROSS the micro-batch boundary, so the state handoff
    // (last type per key) is what keeps the adjacency unbroken
    val events = Seq(
      TypedEvent("u1", 10L, "view"), TypedEvent("u1", 20L, "click"),
      TypedEvent("u1", 30L, "view"), TypedEvent("u1", 40L, "purchase"),
      TypedEvent("u2", 10L, "view"), TypedEvent("u2", 20L, "view"),
      TypedEvent("u2", 30L, "click"),
      TypedEvent("u3", 5L, "error"))
    val (b1, b2) = events.partition(_.ord <= 20L)
    val in = MemoryStream[TypedEvent]
    val q = StreamingFeatures.transitionsStream(spark, in.toDS())
      .writeStream.format("memory").queryName("t_trans").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // fold the emitted pairs to the matrix the batch operator publishes
    val pairs = spark.table("t_trans")
      .groupBy(col("fromType").as("from_type"), col("toType").as("to_type"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val totals = pairs.collect().map(r => r.getString(0) -> r.getLong(2))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
    val streamed = pairs.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(2).toDouble / totals(r.getString(0)).toDouble)))
      .toMap
    val batch = graft.operators.Funnel.transitions(
        events.toDF().select(col("key").as("user_id"), col("ord"), col("etype")),
        "user_id", col("ord"), col("etype"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getAs[Double]("prob"))))
      .toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the boundary-crossing adjacency really was counted
    assert(streamed.contains(("click", "view")), "u1's cross-batch pair must exist")
  }

  test("historyStream: closed SCD2 intervals ≡ batch history across micro-batches") {
    import graft.streaming.StreamingFeatures.TypedEvent
    val rnd = new scala.util.Random(47)
    val events = (1 to 60).map(i =>
      TypedEvent("k" + rnd.nextInt(4), i.toLong, "v" + rnd.nextInt(3)))
    val (b1, b2) = events.partition(_.ord <= 30L)
    val in = MemoryStream[TypedEvent]
    val q = StreamingFeatures.historyStream(spark, in.toDS())
      .writeStream.format("memory").queryName("t_hist").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_hist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batchAll = graft.operators.Upsert.history(
        events.toDF().select(col("key"), col("ord"), col("etype")),
        "key", "ord", Seq("etype"))
      .collect()
    val batchClosed = batchAll.filter(!_.isNullAt(3))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batchClosed,
      s"closed intervals must match batch:\n$streamed\nvs\n$batchClosed")
    // every key has exactly one open (NULL valid_to) version in batch —
    // the state the stream is still holding
    assert(batchAll.count(_.isNullAt(3)) == events.map(_.key).distinct.size)
    // a version that STARTED in batch 1 and CLOSED in batch 2 exists,
    // so the state handoff across the boundary was exercised
    assert(streamed.exists(v => v._3 <= 30L && v._4 > 30L),
      s"need a boundary-crossing interval in $streamed")
  }

  test("parquet feature-table sink merges micro-batches; point query reads latest") {
    val root = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val in = MemoryStream[Update]
    in.addData(Update("a", 1, 10.0), Update("b", 1, 5.0))
    StreamingFeatures.runToMemory(spark,
      graft.streaming.StreamingFeatures.latestPerKey(spark, in.toDS()), "t_sink_drain")
    // simulate two merge rounds directly (deterministic versions)
    import graft.streaming.StreamingFeatures.KeyFeature
    val b1 = Seq(KeyFeature("a", 1, 10.0, 1), KeyFeature("b", 1, 5.0, 1)).toDS()
    val b2 = Seq(KeyFeature("a", 3, 42.0, 3)).toDS()
    graft.streaming.FeatureTableSink.merge(spark, root, b1, 0)
    graft.streaming.FeatureTableSink.merge(spark, root, b2, 1)
    val t = graft.streaming.FeatureTableSink.read(spark, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(t == Map("a" -> ((3L, 42.0, 3L)), "b" -> ((1L, 5.0, 1L))))
    // a point read of the sink's table: a bucket lookup over the same root
    val c = new graft.state.BucketedParquetConnector(spark, "key",
      org.apache.spark.sql.Encoders.product[KeyFeature].schema, root,
      graft.streaming.FeatureTableSink.DefaultBuckets)
    assert(c.pointQuery("a").map(_.getAs[Double]("value")) == Some(42.0))
  }

  test("feature-table sink end-to-end from a live stream") {
    val root = java.nio.file.Files.createTempDirectory("graft-sink2").toString
    val in = MemoryStream[Update]
    in.addData(Update("x", 1, 1.0), Update("x", 2, 2.0), Update("y", 1, 9.0))
    val q = graft.streaming.FeatureTableSink.start(spark,
      graft.streaming.StreamingFeatures.latestPerKey(spark, in.toDS()), root)
    q.awaitTermination()
    val t = graft.streaming.FeatureTableSink.read(spark, root).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(t == Map("x" -> 2.0, "y" -> 9.0))
  }

  test("streaming consume-once join matches Joins.sequenceJoin on the same data") {
    import graft.streaming.StreamingFeatures.SideUpdate
    val rng = new scala.util.Random(11)
    // uneven sides per key, shuffled across two micro-batches so some
    // rights arrive before their lefts
    val lefts = for (k <- Seq("x", "y"); i <- 1 to 9)
      yield SideUpdate(k, i.toLong, rng.nextDouble() * 10, isLeft = true)
    val rights = for (k <- Seq("x", "y"); i <- 1 to 6)
      yield SideUpdate(k, 100L + i, rng.nextDouble() * 10, isLeft = false)
    val all = rng.shuffle(lefts ++ rights)
    val in = MemoryStream[SideUpdate]
    in.addData(all.take(10): _*)
    in.addData(all.drop(10): _*)
    val streamed = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.sequenceJoinStream(spark, in.toDS()), "t_seqjoin",
      OutputMode.Append())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = graft.operators.Joins.sequenceJoin(
      lefts.map(u => (u.key, u.ord, u.value)).toDF("key", "ord", "value"),
      rights.map(u => (u.key, u.ord, u.value)).toDF("key", "ord", "value"),
      "key", "ord", "ord")
      .select("l_key", "l_ord", "l_value", "r_ord", "r_value")
      .as[(String, Long, Double, Long, Double)].collect().toSet
    assert(streamed == batch)
    // each side consumed exactly once: 6 pairs per key
    assert(streamed.size == 12)
  }

  test("streaming as-of join matches Joins.asOfJoin when arrival respects ord order") {
    import graft.streaming.StreamingFeatures.SideUpdate
    val rng = new scala.util.Random(23)
    // sparse rights, dense lefts, distinct ords per (key, side); several
    // lefts precede any right (null as-of), several share a right ord
    // (right pairs at equal ord)
    val rights = for (k <- Seq("x", "y", "z"); i <- 1 to 6)
      yield SideUpdate(k, i * 15L, rng.nextDouble() * 10, isLeft = false)
    val lefts = for (k <- Seq("x", "y", "z"); i <- 0 until 30)
      yield SideUpdate(k, i * 3L + (if (k == "y") 1 else 0), rng.nextDouble() * 10, isLeft = true)
    // arrival respects ord order (rights first at equal ord): any right
    // at-or-before a left arrives no later than that left
    val all = (lefts ++ rights).sortBy(u => (u.ord, u.isLeft))
    val in = MemoryStream[SideUpdate]
    in.addData(all.take(40): _*)
    in.addData(all.slice(40, 80): _*)
    in.addData(all.drop(80): _*)
    val streamed = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.asOfJoinStream(spark, in.toDS()), "t_asofjoin",
      OutputMode.Append())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(4)) null else r.getDouble(4)))
      .toSet
    val batch = graft.operators.Joins.asOfJoin(
      lefts.map(u => (u.key, u.ord, u.value)).toDF("key", "ord", "value"),
      rights.map(u => (u.key, u.ord, u.value)).toDF("key", "ord", "value"),
      "key", "ord", "ord", "value", "asof")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.size == 90)
    // the no-preceding-right lefts really exercise the null path
    assert(streamed.count(_._4 == null) > 0)
  }

  test("stream-stream interval join matches the batch interval join") {
    import graft.streaming.StreamingFeatures.TimedUpdate
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val lefts = for (k <- Seq("a", "b"); i <- 1 to 10)
      yield TimedUpdate(k, ts(i * 7L), i.toDouble)
    val rights = for (k <- Seq("a", "b"); i <- 1 to 15)
      yield TimedUpdate(k, ts(i * 5L), i * 100.0)
    val lin = MemoryStream[TimedUpdate]
    val rin = MemoryStream[TimedUpdate]
    lin.addData(lefts.take(10): _*); rin.addData(rights.take(15): _*)
    lin.addData(lefts.drop(10): _*); rin.addData(rights.drop(15): _*)
    val streamed = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.intervalJoinStream(
        spark, lin.toDS(), rin.toDS(), "10 seconds", "1 minute"),
      "t_ivjoin", OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    // batch equivalent on the same records
    val lb = lefts.toDF("key", "l_time", "l_value")
    val rb = rights.toDF("r_key", "r_time", "r_value")
    val batch = lb.join(rb,
      col("key") === col("r_key") &&
        col("r_time") >= col("l_time") - org.apache.spark.sql.functions.expr("INTERVAL 10 seconds") &&
        col("r_time") <= col("l_time"), "inner")
      .select("key", "l_time", "l_value", "r_time", "r_value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // a left can match several rights inside its horizon
    assert(streamed.groupBy(t => (t._1, t._2)).exists(_._2.size > 1))
  }

  test("streaming consume-once join buffers a right that precedes its left") {
    import graft.streaming.StreamingFeatures.SideUpdate
    val in = MemoryStream[SideUpdate]
    in.addData(SideUpdate("k", 100, 1.5, isLeft = false)) // right first
    in.addData(SideUpdate("k", 1, 7.0, isLeft = true))    // left arrives later
    val out = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.sequenceJoinStream(spark, in.toDS()), "t_seqjoin2",
      OutputMode.Append())
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(out.toList == List((1L, 7.0, 100L, 1.5)))
  }

  test("eviction tombstones cascade: state dropped, counters restart, sink row deleted") {
    import graft.streaming.StreamingFeatures.{EvictableUpdate, KeyEvent}
    val in = MemoryStream[EvictableUpdate]
    in.addData(EvictableUpdate("a", 1, 10.0, tombstone = false),
      EvictableUpdate("a", 2, 20.0, tombstone = false),
      EvictableUpdate("b", 1, 5.0, tombstone = false))
    in.addData(EvictableUpdate("a", 3, 0.0, tombstone = true))   // evict a
    in.addData(EvictableUpdate("a", 4, 99.0, tombstone = false)) // re-add a
    val out = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.latestPerKeyEvictable(spark, in.toDS()), "t_evict")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    // a's history: two updates, an eviction event, then a fresh start
    val aEvents = out.filter(_._1 == "a").sortBy(e => (e._2, e._5))
    assert(aEvents.map(e => (e._2, e._5)).toList ==
      List((1L, false), (2L, false), (3L, true), (4L, false)))
    assert(aEvents.last._4 == 1L, "state must restart from zero after eviction")
    // sink cascade: last event per key decides — a evicted then re-added
    // in a LATER batch survives; a key whose final event is the
    // tombstone is deleted from the table
    val root = java.nio.file.Files.createTempDirectory("graft-evict").toString
    val b1 = out.filter(e => e._2 <= 2 || e._1 == "b")
      .map(e => KeyEvent(e._1, e._2, e._3, e._4, e._5)).toSeq.toDS()
    graft.streaming.FeatureTableSink.mergeEvents(spark, root, b1, 0)
    val b2 = Seq(KeyEvent("a", 3, 0.0, 0L, evicted = true)).toDS()
    graft.streaming.FeatureTableSink.mergeEvents(spark, root, b2, 1)
    val afterEvict = graft.streaming.FeatureTableSink.read(spark, root)
      .collect().map(r => r.getString(0)).toSet
    assert(afterEvict == Set("b"), "evicted key must be deleted from the sink table")
    val b3 = Seq(KeyEvent("a", 4, 99.0, 1L, evicted = false)).toDS()
    graft.streaming.FeatureTableSink.mergeEvents(spark, root, b3, 2)
    val t = graft.streaming.FeatureTableSink.read(spark, root).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(t == Map("a" -> 99.0, "b" -> 5.0))
  }

  test("event-time tumbling window: watermark closes windows, late-but-inside counts") {
    import graft.streaming.StreamingFeatures.TimedUpdate
    def ts(min: Int, sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    val in = MemoryStream[TimedUpdate]
    in.addData(TimedUpdate("k", ts(0, 10), 1.0), TimedUpdate("k", ts(0, 40), 2.0))
    // batch 2: advances watermark past 10:00-10:01 AND delivers a late
    // record still inside the 30s delay for that window
    in.addData(TimedUpdate("k", ts(1, 20), 4.0), TimedUpdate("k", ts(0, 55), 8.0))
    // batch 3: push the watermark far ahead so the 10:01 window closes too
    in.addData(TimedUpdate("k", ts(10, 0), 16.0))
    val out = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.eventTimeTumbling(spark, in.toDS(), "1 minute", "30 seconds")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Double, Long)],
      "t_evwin", OutputMode.Append())
    val wins = out.collect()
      .map(r => r.getTimestamp(1).toString -> ((r.getDouble(3), r.getLong(4)))).toMap
    // 10:00 window: 1+2, plus the late 10:00:55 record (inside delay) = 11
    assert(wins("2026-01-01 10:00:00.0") == ((11.0, 3L)))
    assert(wins("2026-01-01 10:01:00.0") == ((4.0, 1L)))
    assert(!wins.contains("2026-01-01 10:10:00.0"), "open window must not emit in Append mode")
  }

  test("event-time sliding window: a record lands in every overlapping window") {
    import graft.streaming.StreamingFeatures.TimedUpdate
    def ts(min: Int, sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    val in = MemoryStream[TimedUpdate]
    in.addData(TimedUpdate("k", ts(0, 45), 3.0)) // covered by [09:59:30,10:00:30) and [10:00:00,10:01:00)... windows of 1min sliding 30s
    in.addData(TimedUpdate("k", ts(10, 0), 1.0)) // advance watermark, close early windows
    val out = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.eventTimeSliding(spark, in.toDS(), "1 minute", "30 seconds", "30 seconds")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Double, Long)],
      "t_evslide", OutputMode.Append())
    val starts = out.collect().filter(_.getDouble(3) == 3.0).map(_.getTimestamp(1).toString).sorted
    assert(starts.toList == List("2026-01-01 10:00:00.0", "2026-01-01 10:00:30.0"),
      s"record at 10:00:45 must land in exactly the two 1-minute windows sliding by 30s, got $starts")
  }

  test("streaming ord-gap sessionizer matches Windows.sessionize across micro-batches") {
    val rng = new scala.util.Random(13)
    // per-key increasing ords with random gaps straddling the threshold
    val data = for (k <- Seq("x", "y"); i <- 1 to 40) yield {
      Update(k, 0L, rng.nextDouble()) // ord filled below
    }
    var ords = Map("x" -> 0L, "y" -> 0L)
    val stream = data.map { u =>
      val next = ords(u.key) + 1 + rng.nextInt(80) // gaps 1..80 vs maxGap 40
      ords += u.key -> next
      u.copy(ord = next)
    }
    val in = MemoryStream[Update]
    in.addData(stream.take(30): _*)
    in.addData(stream.drop(30): _*)
    val streamed = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.sessionizeStream(spark, in.toDS(), maxGap = 40), "t_sess_ord",
      OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val batch = graft.operators.Windows.sessionize(
      stream.map(u => (u.key, u.ord, u.value)).toDF("key", "ord", "value"),
      "key", col("ord"), maxGap = 40)
      .select("key", "ord", "session_id").as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("event-time sessionization: gap splits sessions, watermark closes them") {
    import graft.streaming.StreamingFeatures.TimedUpdate
    def ts(min: Int, sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    val in = MemoryStream[TimedUpdate]
    // session 1: 10:00:00 + 10:00:20 (inside 30s gap); then a 2-minute
    // silence; session 2: 10:02:30
    in.addData(TimedUpdate("k", ts(0, 0), 1.0), TimedUpdate("k", ts(0, 20), 2.0))
    in.addData(TimedUpdate("k", ts(2, 30), 4.0))
    in.addData(TimedUpdate("k", ts(20, 0), 8.0)) // watermark far ahead: close session 2
    val out = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.eventTimeSessionize(spark, in.toDS(), "30 seconds", "10 seconds")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Double, Long)],
      "t_sess", OutputMode.Append())
    val sessions = out.collect()
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getDouble(3), r.getLong(4)))
      .sortBy(_._1).toList
    assert(sessions == List(
      // session 1: start at first event, end = last event + gap
      ("2026-01-01 10:00:00.0", "2026-01-01 10:00:50.0", 3.0, 2L),
      ("2026-01-01 10:02:30.0", "2026-01-01 10:03:00.0", 4.0, 1L)),
      s"got $sessions")
  }

  test("streaming mean-policy gate matches the batch fold on the same data") {
    val rng = new scala.util.Random(7)
    val data = for (k <- Seq("x", "y"); i <- 1 to 50)
      yield Update(k, i.toLong, rng.nextDouble() * 100)
    // three real micro-batches (continuous trigger, addData interleaved
    // with processAllAvailable), so each key's last-kept value crosses
    // two state handoffs
    val in = MemoryStream[Update]
    val q = StreamingFeatures.meanPolicyGate(spark, in.toDS(), thresh = 25.0)
      .writeStream.format("memory").queryName("t_gate").outputMode("update").start()
    try {
      for (part <- data.groupBy(u => (u.ord - 1) / 17).toSeq.sortBy(_._1).map(_._2)) {
        in.addData(part: _*); q.processAllAvailable()
      }
      val streamed = spark.table("t_gate").select("key", "ord").as[(String, Long)].collect().toSet
      val batch = graft.operators.Shedding
        .meanPolicyFold(data.toDF("key", "ord", "value"), "key", "ord", "value", 25.0)
        .select("key", "ord").as[(String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("every KeyedFold stream operator plans exactly one stateful node") {
    import graft.streaming.StreamingFeatures.{SideUpdate, StreamDoc, TypedEvent, WeightedDoc}
    val sf = StreamingFeatures
    val u = MemoryStream[Update].toDS()
    val sides = MemoryStream[SideUpdate].toDS()
    val events = MemoryStream[TypedEvent].toDS()
    val ops: Seq[(String, org.apache.spark.sql.Dataset[_])] = Seq(
      "tumblingCountWindow" -> sf.tumblingCountWindow(spark, u, 4),
      "slidingCountWindow" -> sf.slidingCountWindow(spark, u, 4, 2),
      "sequenceJoinStream" -> sf.sequenceJoinStream(spark, sides),
      "asOfJoinStream" -> sf.asOfJoinStream(spark, sides),
      "runningSum" -> sf.runningSum(spark, u),
      "decayedSumStream" -> sf.decayedSumStream(spark, u, halfLife = 10L),
      "funnelStream" -> sf.funnelStream(spark, events, Seq("view", "buy")),
      "transitionsStream" -> sf.transitionsStream(spark, events),
      "historyStream" -> sf.historyStream(spark, events),
      "meanPolicyGate" -> sf.meanPolicyGate(spark, u, thresh = 1.0),
      "sessionizeStream" -> sf.sessionizeStream(spark, u, maxGap = 5L),
      "dedupExactStream" -> sf.dedupExactStream(spark, MemoryStream[StreamDoc].toDS()),
      "weightedSampleStream" -> sf.weightedSampleStream(spark, MemoryStream[WeightedDoc].toDS(), 3),
      "rollingSlopeStream" -> sf.rollingSlopeStream(spark, u, 3),
      "rollingZScoreStream" -> sf.rollingZScoreStream(spark, u, 3, 2.0),
      "cusumStream" -> sf.cusumStream(spark, u, target = 0L, slack = 0L, threshold = 10L))
    for ((name, ds) <- ops) {
      val stateful = ds.queryExecution.analyzed.collect {
        case p if p.nodeName == "FlatMapGroupsWithState" => p
      }
      assert(stateful.size == 1, s"$name: ${stateful.size} FlatMapGroupsWithState nodes")
    }
  }

  test("streaming incremental dedup matches batch minhashAgainstPairs") {
    import graft.streaming.StreamingFeatures.StreamDoc
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
    val existing = all.filter(col("doc_id") % 2 === 0)
    val newDocs = all.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().map { case (id, t) => StreamDoc(id, t) }
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    val in = MemoryStream[StreamDoc]
    in.addData(b1: _*); in.addData(b2: _*)
    val streamed = StreamingFeatures.runToMemory(
      spark,
      StreamingFeatures.dedupAgainstStream(
        spark, in.toDS(), existing, "doc_id", "text", minJaccard = 0.6)
        .as[(Long, Long, Double)],
      "t_dedup_against")
    val got = streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.llm.Dedup.minhashAgainstPairs(
        all.filter(col("doc_id") % 2 === 1), existing, "doc_id", "text", 0.6)
      .select("new_doc", "old_doc", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty && got == batch)
  }

  test("streaming curation gate == batch gate replay == CorpusFrame chain") {
    import graft.streaming.StreamingFeatures.StreamDoc
    import graft.streaming.CurationGate
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // a small "benchmark" slice to decontaminate against
    val evalDocs = all.filter(col("doc_id") % 97 === 0).select(col("text"))
    val evalShingles = graft.llm.Dedup.evalShingleSet(evalDocs, "text")
      .localCheckpoint(false)
    val (minQ, maxOv, minJ) = (0.35, 0.5, 0.6)

    // ---- streaming: the corpus in two micro-batches (id-disjoint)
    val docs = all.as[(Long, String)].collect().map { case (id, t) => StreamDoc(id, t) }
    val (b1, b2) = docs.partition(_.docId % 2 == 0)
    val accDir = java.nio.file.Files.createTempDirectory("graft-gate-acc").toString
    val sigDir = java.nio.file.Files.createTempDirectory("graft-gate-sig").toString
    val funDir = java.nio.file.Files.createTempDirectory("graft-gate-funnel").toString
    val in = MemoryStream[StreamDoc]
    // one micro-batch per slice (AvailableNow would fold both adds into
    // a single batch and never exercise the signature handoff)
    val q = CurationGate.start(spark, in.toDS(), evalShingles, accDir, sigDir,
      minQuality = minQ, maxOverlap = maxOv, minJaccard = minJ, availableNow = false,
      funnelDir = Some(funDir))
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = CurationGate.readAccepted(spark, accDir).get
      .select("doc_id").as[Long].collect().toSet

    // ---- batch twin: fold the staged gate over the same slices
    val in1 = all.filter(col("doc_id") % 2 === 0)
    val in2 = all.filter(col("doc_id") % 2 === 1)
    val st1 = CurationGate.gateStages(in1, evalShingles, None, minQ, maxOv, minJ)
    val g1 = st1.accepted.localCheckpoint(false)
    val sigs1 = graft.llm.Dedup.signatures(g1, "doc_id", "text").localCheckpoint(false)
    val st2 = CurationGate.gateStages(in2, evalShingles, Some(sigs1), minQ, maxOv, minJ)
    val g2 = st2.accepted
    val replayed = (g1.select("doc_id").as[Long].collect() ++
      g2.select("doc_id").as[Long].collect()).toSet
    assert(streamed == replayed, "streaming gate must equal the batch gate replay")

    // ---- per-epoch funnel: each epoch's published stage counts equal
    // the batch twin's, and the accepted column sums to the corpus
    val funnel = spark.read.parquet(s"$funDir/b0", s"$funDir/b1")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def stageCounts(input: org.apache.spark.sql.DataFrame, st: CurationGate.GateStages) = Seq(
      "1_input" -> input.count(), "2_quality" -> st.quality.count(),
      "3_decontaminated" -> st.decontaminated.count(), "4_exact" -> st.exact.count(),
      "5_near" -> st.near.count(), "6_accepted" -> st.accepted.count())
    stageCounts(in1, st1).foreach { case (nm, c) =>
      assert(funnel((0L, nm)) == c, s"epoch 0 funnel stage $nm: ${funnel((0L, nm))} != $c") }
    stageCounts(in2, st2).foreach { case (nm, c) =>
      assert(funnel((1L, nm)) == c, s"epoch 1 funnel stage $nm: ${funnel((1L, nm))} != $c") }
    assert(funnel((0L, "6_accepted")) + funnel((1L, "6_accepted")) == streamed.size,
      "epoch accepted counts must sum to the corpus")

    // the gate actually gated: survivors are a strict non-empty subset
    val total = all.count()
    assert(streamed.nonEmpty && streamed.size < total,
      s"expected a strict subset, got ${streamed.size}/$total")

    // replaying the LAST epoch (restart before offset commit) must land
    // the identical accepted set — the baseline excludes the epoch's
    // own partial output and the writes overwrite, never append
    val lastEpoch = 1L
    CurationGate.runEpoch(spark,
      all.filter(col("doc_id") % 2 === 1), evalShingles, accDir, sigDir,
      lastEpoch, minQ, maxOv, minJ)
    val replayedEpoch = CurationGate.readAccepted(spark, accDir).get
      .select("doc_id").as[Long].collect().toSet
    assert(replayedEpoch == streamed, "epoch replay must be idempotent")

    // offline compaction folds epoch dirs without changing content. The
    // NEWEST epoch present is never folded even when the watermark
    // covers it — a restart can replay it (crash after write, before
    // offset commit) and runEpoch's overwrite of its b-dir would drop
    // everything folded into that id — so with only epochs {0, 1} on
    // disk there is nothing to fold yet
    assert(CurationGate.compact(spark, accDir, upToEpoch = 1000L) == 0,
      "the newest epoch must be excluded from folding")
    // a third (empty) epoch shields {0, 1}: now both fold into b1
    CurationGate.runEpoch(spark,
      all.filter(col("doc_id") < 0), evalShingles, accDir, sigDir,
      2L, minQ, maxOv, minJ)
    val folded = CurationGate.compact(spark, accDir, upToEpoch = 1000L)
    assert(folded == 2, s"expected epochs 0 and 1 folded, got $folded")
    val dirs = new java.io.File(accDir).listFiles().map(_.getName).filter(_.matches("b\\d+"))
    assert(dirs.toSet == Set(s"b$lastEpoch", "b2"),
      s"folded dir must be b$lastEpoch with the newest epoch untouched, got ${dirs.toSeq}")
    val compacted = CurationGate.readAccepted(spark, accDir).get
      .select("doc_id").as[Long].collect().toSet
    assert(compacted == streamed, "compaction must preserve the accepted set")
    assert(CurationGate.compact(spark, accDir, upToEpoch = 1000L) == 0,
      "a second compaction is a no-op")

    // ---- single-batch gate == the literal CorpusFrame batch chain
    val oneShot = CurationGate.gateBatch(all, evalShingles, None, minQ, maxOv, minJ)
      .select("doc_id").as[Long].collect().toSet
    val chain = graft.llm.CorpusFrame(all, "doc_id", "text")
      .filterQuality(minQ)
      .decontaminateAgainst(evalDocs, maxOv)
      .dedupExact()
      .dedupNear(minJ)
      .df.select("doc_id").as[Long].collect().toSet
    assert(oneShot == chain, "single-batch gate must equal the CorpusFrame chain")
  }

  test("bloom-pruned streaming gate == unpruned gate; band blooms roll forward") {
    import graft.streaming.StreamingFeatures.StreamDoc
    import graft.streaming.CurationGate
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val evalDocs = all.filter(col("doc_id") % 97 === 0).select(col("text"))
    val evalShingles = graft.llm.Dedup.evalShingleSet(evalDocs, "text")
      .localCheckpoint(false)
    val (minQ, maxOv, minJ) = (0.35, 0.5, 0.6)
    val bits = 1 << 18

    val docs = all.as[(Long, String)].collect().map { case (id, t) => StreamDoc(id, t) }
    val (b1, b2) = docs.partition(_.docId % 2 == 0)
    val accDir = java.nio.file.Files.createTempDirectory("graft-bgate-acc").toString
    val sigDir = java.nio.file.Files.createTempDirectory("graft-bgate-sig").toString
    val bloomDir = java.nio.file.Files.createTempDirectory("graft-bgate-bloom").toString
    val in = MemoryStream[StreamDoc]
    val q = CurationGate.start(spark, in.toDS(), evalShingles, accDir, sigDir,
      minQuality = minQ, maxOverlap = maxOv, minJaccard = minJ, availableNow = false,
      bloomDir = Some(bloomDir), bloomBits = bits)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = CurationGate.readAccepted(spark, accDir).get
      .select("doc_id").as[Long].collect().toSet

    // identical accepted set to the UNPRUNED batch fold over the same
    // slices — the bloom changes plan economics, never the answer
    val in1 = all.filter(col("doc_id") % 2 === 0)
    val in2 = all.filter(col("doc_id") % 2 === 1)
    val g1 = CurationGate.gateBatch(in1, evalShingles, None, minQ, maxOv, minJ)
      .localCheckpoint(false)
    val sigs1 = graft.llm.Dedup.signatures(g1, "doc_id", "text").localCheckpoint(false)
    val g2 = CurationGate.gateBatch(in2, evalShingles, Some(sigs1), minQ, maxOv, minJ)
    val unpruned = (g1.select("doc_id").as[Long].collect() ++
      g2.select("doc_id").as[Long].collect()).toSet
    assert(streamed == unpruned, "bloomed gate must equal the unpruned gate")

    // each epoch published its artifact; the rolled-forward bloom has NO
    // false negatives over the accumulated signature table's band cells
    val bloomDirs = new java.io.File(bloomDir).listFiles().map(_.getName)
      .filter(_.matches("b\\d+")).toSet
    assert(bloomDirs == Set("b0", "b1"), s"expected per-epoch artifacts, got $bloomDirs")
    val rolled = CurationGate.readBandBloom(spark, bloomDir, beforeEpoch = 2L).get
    val sigs = spark.read.parquet(s"$sigDir/b0", s"$sigDir/b1")
    val misses = sigs
      .select(posexplode(graft.llm.TextOps.bandDigests(col("sig"))).as(Seq("band", "digest")))
      .filter(!graft.llm.Sketches.bloomContains(
        lit(rolled), graft.llm.Dedup.sigBandKey(col("band"), col("digest"))))
      .count()
    assert(misses == 0, s"rolled bloom must cover every accumulated band cell, $misses missed")

    // before any epoch exists the roll-up is None (empty OR sentinel)
    assert(CurationGate.readBandBloom(spark, bloomDir, beforeEpoch = 0L).isEmpty)

    // saturation telemetry rides each artifact row (VERDICT r6 item 4):
    // per-epoch fill plus the ACCUMULATED fill the rebuild policy
    // watches — monotone across epochs, consistent with the bytes, and
    // strictly growing here (both epochs accept docs with fresh bands)
    val tele = spark.read.parquet(s"$bloomDir/b0", s"$bloomDir/b1")
      .select("n_bits", "n_set", "fill", "acc_n_set", "acc_fill")
      .orderBy("acc_n_set")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(tele.length == 2)
    tele.foreach { case (nBits, nSet, fill, accSet, accFill) =>
      assert(nBits == (1L << 18))
      assert(nSet > 0 && fill == nSet.toDouble / nBits)
      assert(accSet >= nSet && accFill == accSet.toDouble / nBits)
      assert(accFill < 0.5, "test corpus must sit far from the rebuild threshold")
    }
    assert(tele(0)._4 < tele(1)._4, "accumulated fill must grow as epochs accrue")
    assert(tele(1)._4 == graft.functions.BloomKernels.popcount(rolled),
      "the last epoch's acc_n_set must equal the rolled artifact's popcount")
  }

  test("streaming corpus monitor: sketch state across micro-batches == batch sketches") {
    import graft.streaming.CorpusMonitor
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source").as("grp"), col("doc_id"), col("text"))
    // batch reference: the identical projection, one shot over everything
    val batch = CorpusMonitor.stats(docsDf).orderBy("grp").collect().map(_.toSeq).toSeq

    // streaming: the same docs across three micro-batches — the state
    // store must carry the O(k) sketch buffers between batches, and the
    // final emitted row per group must CONVERGE to the batch sketch
    // (exact regime: hhK=64 far above the 31-word vocabulary)
    val rows = docsDf.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val slices = new scala.util.Random(5).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, Long, String)]
    val stream = CorpusMonitor.stats(in.toDS().toDF("grp", "doc_id", "text"))
    val q = stream.writeStream.format("memory").queryName("t_monitor")
      .outputMode(OutputMode.Update()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    // Update-mode memory sink appends every emitted revision; n_docs is
    // monotone per group, so the latest state is the max-n_docs row
    val streamed = spark.table("t_monitor").collect()
      .groupBy(_.getString(0)).map { case (_, rs) => rs.maxBy(_.getLong(1)).toSeq }
      .toSeq.sortBy(_.head.asInstanceOf[String])
    assert(streamed == batch,
      s"streamed final sketches must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming profile: the batch projection runs as-is under Complete mode") {
    // VERDICT r6 stretch item: ingest monitoring and the batch
    // data-quality snapshot share ONE projection — Profile.profile is a
    // single global aggregate (KMV buffer through the state store, the
    // CorpusMonitor shape) plus a stateless reshape, so the SAME
    // function runs on the stream and its final table equals the batch
    // profile over the same rows.
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val batch = graft.operators.Profile.profile(docsDf, Seq("doc_id", "lang", "n_chars"))
      .orderBy("col_name").collect().map(_.toSeq).toSeq

    val rows = docsDf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val slices = new scala.util.Random(7).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val stream = graft.operators.Profile.profile(
      in.toDS().toDF("doc_id", "lang", "n_chars"), Seq("doc_id", "lang", "n_chars"))
    val q = stream.writeStream.format("memory").queryName("t_profile")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    // Complete mode rewrites the sink each trigger: the table IS the
    // final profile
    val streamed = spark.table("t_profile")
      .orderBy("col_name").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final profile must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming count-min: the batch aggregate runs as-is under Complete mode") {
    // CountMin is a TypedImperativeAggregate like the KMV/MG/bottom-k
    // family — its depth×width buffer serializes through the state
    // store, so the SAME termFrequencies projection monitors a live
    // ingest; counters are linear, so the streamed-final sketch equals
    // the batch sketch over the same rows (no below-capacity caveat,
    // unlike MG)
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("text"))
    val probes = Seq("the", "merge", "vector")
    val batch = graft.llm.Sketches.termFrequencies(
        docsDf, "source", "text", probes, depth = 4, width = 64)
      .orderBy("grp", "term").collect().map(_.toSeq).toSeq
    val rows = docsDf.collect().map(r => (r.getString(0), r.getString(1)))
    val slices = new scala.util.Random(3).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String)]
    val stream = graft.llm.Sketches.termFrequencies(
      in.toDS().toDF("source", "text"), "source", "text", probes, depth = 4, width = 64)
    val q = stream.writeStream.format("memory").queryName("t_cms")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("t_cms")
      .orderBy("grp", "term").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final count-min estimates must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming confusion monitor: streamed-final metrics equal the batch report") {
    // confusionStream accumulates exact mergeable (actual, pred)
    // counts under Complete mode; evalMetricsFromCounts grades the
    // snapshot with the SAME math batch evalMetrics runs — so the
    // live monitor's final report is the batch report
    val scored = graft.llm.Classify.nbTrainScore(spark,
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", "lang")
      .select(col("actual"), col("pred"))
    val batch = graft.llm.Classify.evalMetrics(spark, scored)
      .orderBy("label").collect().map(_.toSeq).toSeq
    val rows = scored.collect().map(r => (r.getString(0), r.getString(1)))
    val slices = new scala.util.Random(11).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, String)]
    val stream = graft.streaming.StreamingFeatures.confusionStream(
      in.toDS().toDF("actual", "pred"))
    val q = stream.writeStream.format("memory").queryName("t_conf")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.llm.Classify.evalMetricsFromCounts(spark,
        spark.table("t_conf"), "actual", "pred", "n")
      .orderBy("label").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final confusion metrics must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming PSI monitor: streamed-final score equals the batch operator") {
    // psiCountsStream accumulates exact per-bin (c_cur, c_ref) longs
    // under Complete mode; psiFromCounts scores the snapshot with the
    // SAME math batch psi runs — live drift monitor ≡ batch
    val events = Tables.events(spark, "/root/testdata/sf0.001").select(
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.round(col("value") * 100).cast("long") / 2000L)
        .as("bin"),
      (col("user_id") % 2 === 0).as("is_cur"))
    val batch = graft.operators.StatTests.psi(events, col("bin"), col("is_cur"))
      .collect().map(_.toSeq).toSeq
    val rows = events.collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val slices = new scala.util.Random(7).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, Boolean)]
    val stream = graft.streaming.StreamingFeatures.psiCountsStream(
      in.toDS().toDF("bin", "is_cur"))
    val q = stream.writeStream.format("memory").queryName("t_psi")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.operators.StatTests.psiFromCounts(spark.table("t_psi"))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final PSI must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming KS/W1 monitor: streamed-final statistics equal the batch operators") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type").isin("purchase", "view"))
      .select(org.apache.spark.sql.functions.round(col("value") * 100).cast("long").as("v"),
        (col("event_type") === "purchase").as("is_a"))
    val batchKs = graft.operators.StatTests.ksTest(events, "v", col("is_a"))
      .collect().map(_.toSeq).toSeq
    val batchW1 = graft.operators.StatTests.wasserstein(events, "v", col("is_a"))
      .collect().map(_.toSeq).toSeq
    val rows = events.collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val slices = new scala.util.Random(5).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(Long, Boolean)]
    val stream = graft.streaming.StreamingFeatures.valueCountsStream(
      in.toDS().toDF("v", "is_a"))
    val q = stream.writeStream.format("memory").queryName("t_ksw")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val snap = spark.table("t_ksw")
    assert(graft.operators.StatTests.ksFromCounts(snap)
      .collect().map(_.toSeq).toSeq == batchKs, "streamed-final KS must equal batch")
    assert(graft.operators.StatTests.wassersteinFromCounts(snap)
      .collect().map(_.toSeq).toSeq == batchW1, "streamed-final W1 must equal batch")
  }

  test("streaming JSD monitor: streamed-final divergences equal the batch operator") {
    val events = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("event_type").as("cat"), (col("user_id") % 2 === 0).as("is_cur"))
    val batch = graft.operators.StatTests.jsDivergence(events, "cat", col("is_cur"))
      .collect().map(_.toSeq).toSeq
    val rows = events.collect().map(r => (r.getString(0), r.getBoolean(1)))
    val slices = new scala.util.Random(13).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[(String, Boolean)]
    val q = graft.streaming.StreamingFeatures.categoryCountsStream(
        in.toDS().toDF("cat", "is_cur"))
      .writeStream.format("memory").queryName("t_jsd")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.operators.StatTests.jsDivergenceFromCounts(spark.table("t_jsd"))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final JSD/KL must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming per-key calibration: streamed-final isotonic curves equal batch per key") {
    // the live-calibration seam: keyedValueCountsStream with v = the
    // score bin and is_a = the positive label; a Complete snapshot
    // scored by isotonicCalibrationByKeyFromCounts equals the direct
    // per-key PAV fit on the raw scores
    val bins = 5
    val scored = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("event_type").as("k"),
      ((col("user_id") % 100).cast("double") / org.apache.spark.sql.functions.lit(100.0)).as("score"),
      (col("event_id") % 3 === 0).as("label"))
    val batch = graft.llm.Classify.isotonicCalibrationByKey(
        scored, "k", "label", "score", bins = bins)
      .collect().map(_.toSeq).toSeq
    val binned = scored.select(col("k"),
      org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.floor(col("score") * bins),
        org.apache.spark.sql.functions.lit((bins - 1).toLong)).cast("long").as("v"),
      col("label").as("is_a"))
    val rows = binned.collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val slices = new scala.util.Random(31).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    assert(slices.length >= 3)
    val in = MemoryStream[(String, Long, Boolean)]
    val q = graft.streaming.StreamingFeatures.keyedValueCountsStream(
        in.toDS().toDF("k", "v", "is_a"))
      .writeStream.format("memory").queryName("t_kcal")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.llm.Classify.isotonicCalibrationByKeyFromCounts(
        spark.table("t_kcal").select(col("k"), col("v").as("bin"),
          col("c_a").as("c_pos"), col("c_b").as("c_neg")))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final per-key isotonic must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming per-key drift dashboard: streamed-final equals batch for every key") {
    // the streaming twin of q_drift_by_key: one keyed counts stream,
    // one snapshot, five scores per key — across 3 genuine micro-batches
    val events = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("event_type").as("k"),
      org.apache.spark.sql.functions.round(col("value") * 100).cast("long").as("v"),
      (col("user_id") % 2 === 0).as("is_a"))
    val batch = graft.operators.StatTests.perKeyDrift(
        events, "k", "v", col("is_a"), binWidth = 2000L)
      .collect().map(_.toSeq).toSeq
    val rows = events.collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val slices = new scala.util.Random(29).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    assert(slices.length >= 3)
    val in = MemoryStream[(String, Long, Boolean)]
    val q = graft.streaming.StreamingFeatures.keyedValueCountsStream(
        in.toDS().toDF("k", "v", "is_a"))
      .writeStream.format("memory").queryName("t_kdrift")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.operators.StatTests.perKeyDriftFromCounts(
        spark.table("t_kdrift"), binWidth = 2000L)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final per-key dashboard must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming per-key chi-square: crosstab snapshot scores equal to batch") {
    val events = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("event_type").as("k"),
      (col("user_id") % 2 === 0).cast("string").as("s"),
      (org.apache.spark.sql.functions.round(col("value") * 100).cast("long") / lit(2000L))
        .cast("long").cast("string").as("c"))
    val batch = graft.operators.StatTests.chiSquareByKey(events, "k", "s", "c")
      .collect().map(_.toSeq).toSeq
    val rows = events.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val slices = new scala.util.Random(31).shuffle(rows.toSeq).grouped(rows.length / 3 + 1).toSeq
    assert(slices.length >= 3)
    val in = MemoryStream[(String, String, String)]
    val q = graft.streaming.StreamingFeatures.keyedCrosstabStream(
        in.toDS().toDF("k", "s", "c"))
      .writeStream.format("memory").queryName("t_kchi")
      .outputMode(OutputMode.Complete()).start()
    slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val streamed = graft.operators.StatTests.chiSquareByKeyFromCounts(spark.table("t_kchi"))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed-final per-key chi-square must equal batch:\n$streamed\nvs\n$batch")
  }

  test("streaming transitions: random streams and split points still equal batch") {
    import graft.streaming.StreamingFeatures.TypedEvent
    val types = Array("view", "click", "buy", "err")
    val rnd = new scala.util.Random(11)
    for (caseNo <- 1 to 3) {
      val events = (1 to 40).map { i =>
        TypedEvent(s"u${rnd.nextInt(4)}", i.toLong * 10, types(rnd.nextInt(types.length)))
      }
      val cut = 10L * (5 + rnd.nextInt(30))
      val (b1, b2) = events.partition(_.ord <= cut)
      val in = MemoryStream[TypedEvent]
      val name = s"t_trans_p$caseNo"
      val q = StreamingFeatures.transitionsStream(spark, in.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        if (b1.nonEmpty) { in.addData(b1: _*); q.processAllAvailable() }
        if (b2.nonEmpty) { in.addData(b2: _*); q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table(name)
        .groupBy(col("fromType"), col("toType"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Funnel.transitions(
          events.toDF().select(col("key").as("u"), col("ord"), col("etype")),
          "u", col("ord"), col("etype"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, s"case $caseNo (cut $cut): $streamed vs $batch")
    }
  }

  test("IvfIndex streaming ingest: per-batch epochs searchable, maintenance folds them") {
    import graft.llm.IvfIndex
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    // base index over the even half freezes the quantizer
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      idx, numCentroids = 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def probed(): Set[Seq[Any]] =
      IvfIndex.probe(spark, idx, queries, "vec_id", "embedding", k = 3, nProbe = 3)
        .select("qid", "rank", "nid").collect().map(_.toSeq).toSet
    val before = probed()
    val odd = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = odd.partition(_._1 % 4 == 1)
    val in = MemoryStream[(Long, Seq[Double])]
    // continuous trigger so the two adds land as DISTINCT epochs
    val q = IvfIndex.ingestStream(
      in.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding")),
      "vec_id", "embedding", idx).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val after = probed()
    assert(after != before, "streamed vectors must join the candidate pool")
    // full parity with a one-shot append of the same half
    val idx2 = java.nio.file.Files.createTempDirectory("graft-ivf-stream-ref").toString
    IvfIndex.write(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      idx2, numCentroids = 8)
    IvfIndex.appendEpoch(spark, idx2, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", epoch = 9L)
    val ref = IvfIndex.probe(spark, idx2, queries, "vec_id", "embedding", k = 3, nProbe = 3)
      .select("qid", "rank", "nid").collect().map(_.toSeq).toSet
    assert(after == ref, "streamed epochs must score like one batch append")
    // self-maintenance folds the two stream epochs
    assert(IvfIndex.compactIfNeeded(spark, idx, maxRoots = 2) == 2)
    assert(probed() == after, "compaction must not change results")
  }

  test("compaction crash recovery: a staged fold finishes without loss or double-count") {
    import graft.streaming.CurationGate
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    def write(epoch: Long, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/b$epoch")
    write(0, Seq(1L, 2L)); write(1, Seq(3L)); write(2, Seq(4L))
    // stage the fold of epochs {0, 1} exactly as compact() would...
    spark.read.parquet(s"$dir/b0", s"$dir/b1")
      .write.mode("overwrite").parquet(s"$dir/.compact-b1")
    // ...and crash in the worst window: after SOME source deletes,
    // before the rename — b0's docs now live only in the staged dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/b0"), true)
    // an unrelated INCOMPLETE stage (no _SUCCESS marker: the union was
    // still draining when the crash hit) must be discarded, not renamed
    val junk = new java.io.File(s"$dir/.compact-b7")
    junk.mkdirs()
    new java.io.File(junk, "part-junk.parquet").createNewFile()

    val folded = CurationGate.compact(spark, dir, upToEpoch = 1000L)
    assert(folded == 0, s"recovery leaves nothing new to fold, got $folded")
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith(".compact")), s"stages must be cleared: $names")
    assert(names.filter(_.matches("b\\d+")) == Set("b1", "b2"), s"got $names")
    val docs = spark.read.parquet(s"$dir/b1", s"$dir/b2")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(docs == Seq(1L, 2L, 3L, 4L), s"no loss, no double count: $docs")
  }

  test("streaming exact dedup matches batch Dedup.exact on the real corpus") {
    import graft.streaming.StreamingFeatures.StreamDoc
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().map { case (id, t) => StreamDoc(id, t) }
    // split the corpus across three micro-batches, NOT in id order —
    // canonicality must converge to the min id regardless of arrival
    val shuffled = new scala.util.Random(11).shuffle(docs.toSeq)
    val (b1, rest) = shuffled.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(docs.length / 3)
    val in = MemoryStream[StreamDoc]
    in.addData(b1: _*); in.addData(b2: _*); in.addData(b3: _*)
    val streamed = StreamingFeatures.runToMemory(
      spark, StreamingFeatures.dedupExactStream(spark, in.toDS()), "t_dedup")
    // Update-mode memory sink appends every emitted revision; the final
    // state of a group is its last row (nCopies strictly grows)
    val finalRows = streamed.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (h, rows) => h -> rows.map(_._2).maxBy(_._2) }
    val batch = graft.llm.Dedup.exact(
        Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .select("text_hash", "canonical_id", "n_copies")
      .as[(Long, Long, Long)].collect()
      .map { case (h, c, n) => h -> ((c, n)) }.toMap
    assert(finalRows == batch)
  }

  private val FileContextManager =
    classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName

  test("a graft stream's micro-batches start no process under its checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.state.CheckpointFiles
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-forks").toString
    val root = s"$dir/sink"
    val in = MemoryStream[Update]
    val q = FeatureTableSink.start(spark, StreamingFeatures.latestPerKey(spark, in.toDS()), root,
      availableNow = false)
    try {
      assert(spark.conf.get(CheckpointFiles.Key) == classOf[CheckpointFiles].getName)
      val ckpt = new org.apache.hadoop.fs.Path(
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot).toUri.getPath
      // the offset log, commit log and state-store files of 3 micro-batches
      val forks = Forks.under(ckpt) {
        (1 to 3).foreach { b =>
          in.addData((1 to 50).map(i => Update(s"k$i", b, b * i.toDouble)): _*)
          q.processAllAvailable()
        }
      }
      assert(forks.isEmpty, s"the checkpoint started processes, e.g. ${forks.take(3)}")
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    } finally q.stop()
    val t = FeatureTableSink.read(spark, root).as[KeyFeature].collect()
    assert(t.length == 50 && t.forall(f => f.ord == 3 && f.numUpdates == 3 &&
      f.value == 3 * f.key.drop(1).toDouble), t.take(3).toSeq)
  }

  test("CheckpointFiles.use names the manager only on a session that names none") {
    import graft.state.CheckpointFiles
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(CheckpointFiles.Key).isEmpty)
    CheckpointFiles.use(fresh)
    assert(fresh.conf.get(CheckpointFiles.Key) == classOf[CheckpointFiles].getName)
    // a user's choice wins, in the session conf ...
    val theirs = spark.newSession()
    theirs.conf.set(CheckpointFiles.Key, FileContextManager)
    StreamingFeatures.slidingCountWindow(theirs, theirs.createDataset(Seq(Update("a", 1, 1.0))), 2, 1)
    StreamingFeatures.latestPerKey(theirs, theirs.createDataset(Seq(Update("a", 1, 1.0))))
    assert(theirs.conf.get(CheckpointFiles.Key) == FileContextManager)
    // ... and in the Hadoop conf
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(CheckpointFiles.Key, FileContextManager)
    try {
      val viaHadoop = spark.newSession()
      CheckpointFiles.use(viaHadoop)
      assert(viaHadoop.conf.getOption(CheckpointFiles.Key).isEmpty)
    } finally hadoop.unset(CheckpointFiles.Key)
  }

  test("a checkpoint resumes across Spark's default manager and CheckpointFiles, both ways") {
    import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
    import org.apache.spark.sql.streaming.Trigger
    import graft.state.CheckpointFiles
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-resume")
    val Seq(input, ckpt, root) = Seq("in", "ckpt", "sink").map(dir.resolve(_).toString)
    val stock = spark.newSession()
    stock.conf.set(CheckpointFiles.Key, FileContextManager)
    val ours = spark.newSession()
    def run(s: SparkSession, round: Int): Unit = {
      Seq(Update("a", round, round.toDouble), Update(s"k$round", 1, 1.0)).toDF()
        .write.mode("append").parquet(input)
      val in = s.readStream.schema(Encoders.product[Update].schema).parquet(input)
        .as[Update](Encoders.product[Update])
      StreamingFeatures.latestPerKey(s, in).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[KeyFeature], id: Long) => FeatureTableSink.merge(s, root, b, id) }
        .start().awaitTermination()
    }
    run(stock, 1)
    run(ours, 2)
    run(stock, 3)
    assert(ours.conf.get(CheckpointFiles.Key) == classOf[CheckpointFiles].getName)
    assert(stock.conf.get(CheckpointFiles.Key) == FileContextManager)
    // the key's update counter lives in the state store: 3 means every
    // run restored the state the other manager wrote
    val t = FeatureTableSink.read(spark, root).as[KeyFeature].collect().map(f => f.key -> f).toMap
    assert(t.keySet == Set("a", "k1", "k2", "k3"))
    assert(t("a") == KeyFeature("a", 3, 3.0, 3))
    // one layout: every log entry beside its checksum
    for (log <- Seq("offsets", "commits")) {
      val names = new java.io.File(ckpt, log).list().toSet
      assert((0 to 2).forall(i => names(i.toString) && names(s".$i.crc")), s"$log: $names")
    }
  }

  test("CheckpointFiles leaves a non-local checkpoint to Spark's own manager") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    import graft.state.CheckpointFiles
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.stocklocal.impl", classOf[StockLocalFs].getName)
    conf.set(CheckpointFiles.Key, classOf[CheckpointFiles].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-scheme").toString
    /** Write one log entry through the manager Spark would build for
      * `path`; the processes it started, and the names it left.
      */
    def write(path: String): (Seq[String], Set[String]) = {
      val forks = Forks.under(dir) {
        val fm = CheckpointFileManager.create(new Path(path), conf)
        assert(fm.isInstanceOf[CheckpointFiles])
        fm.mkdirs(new Path(path))
        val out = fm.createAtomic(new Path(path, "0"), false)
        out.write("v1".getBytes("UTF-8"))
        out.close()
      }
      (forks, new java.io.File(new Path(path).toUri.getPath).list().toSet)
    }
    val (stockForks, stockNames) = write(s"stocklocal://$dir/stock")
    val (localForks, localNames) = write(s"file://$dir/local")
    // Hadoop's stock local filesystem, under Spark's manager, forks chmod
    assert(stockForks.exists(_.startsWith("chmod")), stockForks)
    assert(localForks.isEmpty, localForks)
    assert(stockNames == Set("0", ".0.crc") && localNames == stockNames, (stockNames, localNames))
  }
}
