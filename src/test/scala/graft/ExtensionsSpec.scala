package graft

import org.apache.spark.sql.graft.Bridge

import graft.functions.{GraftExtensions, StrHash}

/** The cluster-deployment injection path
  * (`spark.sql.extensions=graft.functions.GraftExtensions`): a session
  * built with the extensions applied must resolve the SQL functions and
  * carry the TopKPerKey and bucketed-merge planner strategies — previously only
  * GraftFunctions.register (the session-mutating path) was tested.
  */
class ExtensionsSpec extends SparkSpec {

  test("extensions-built session resolves graft SQL functions and TopK strategy") {
    val s2 = Bridge.newSessionWithExtensions(spark, new GraftExtensions()(_))
    // both planner strategies come injected, before any operator installs one
    assert(s2.experimental.extraStrategies.isEmpty)
    val planner = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner
    assert(Seq(graft.plans.TopKStrategy, graft.state.BucketMergeStrategy).forall(planner.strategies.contains),
      planner.strategies)
    // SQL function resolution through the injected registry
    val h = s2.sql("SELECT graft_strhash('spark') AS h").collect().head.getLong(0)
    assert(h == StrHash.hash(org.apache.spark.unsafe.types.UTF8String.fromString("spark")))
    // analysis-time type gate rides along
    val err = intercept[Exception](s2.sql("SELECT graft_strhash(array(1,2))").collect())
    assert(err.getMessage.contains("graft_strhash"))
    // planner strategy: TopKPerKey plans to its custom exec node
    import org.apache.spark.sql.functions._
    import s2.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v")
    val top = graft.plans.TopKPerKey(s2, df, Seq("k"), Seq("v" -> true), 1)
    assert(top.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      s"expected TopKPerKeyExec in:\n${top.queryExecution.executedPlan}")
    assert(top.select("k", "v").as[(String, Double)].collect().toSet == Set("a" -> 2.0, "b" -> 3.0))
    // planning a TopK and a bucketed merge adds neither strategy again
    val root = java.nio.file.Files.createTempDirectory("graft-ext").toString
    graft.streaming.FeatureTableSink.merge(s2, root,
      Seq(graft.streaming.StreamingFeatures.KeyFeature("a", 1, 1.0, 1)).toDS(), 0)
    assert(graft.streaming.FeatureTableSink.read(s2, root).count() == 1)
    assert(s2.experimental.extraStrategies.isEmpty, s2.experimental.extraStrategies)
    assert(graft.plans.Strategies.all.forall(st => planner.strategies.count(_ == st) == 1), planner.strategies)
  }

  test("SQL-computed MinHash signature == the Scala operator's persisted signature") {
    val s2 = Bridge.newSessionWithExtensions(spark, new GraftExtensions()(_))
    import s2.implicits._
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y z")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("mhsig_in")
    // graft_minhash_sig is pinned to the library's standard (K, A, B)
    // parameters, so a SQL-side signature can join a persisted handoff
    // table written by Dedup.signatures
    val viaSql = s2.sql(
        "SELECT doc_id, graft_minhash_sig(graft_shingle_hashes(text, 3)) AS sig " +
        "FROM mhsig_in ORDER BY doc_id")
      .as[(Long, Seq[Long])].collect().toList
    val viaOp = graft.llm.Dedup.signatures(docs, "doc_id", "text")
      .orderBy("doc").as[(Long, Seq[Long])].collect().toList
    assert(viaSql == viaOp, s"sql=$viaSql op=$viaOp")
  }

  test("heavy-hitters and bottom-k aggregates resolve in SQL") {
    val s2 = Bridge.newSessionWithExtensions(spark, new GraftExtensions()(_))
    import s2.implicits._
    Seq(("g", Seq("a", "a", "b"), 1L, 2.0), ("g", Seq("a"), 2L, 9.0), ("h", Seq("c"), 3L, 5.0))
      .toDF("k", "ws", "id", "v").createOrReplaceTempView("sk_in")
    val hh = s2.sql(
        "SELECT k, graft_heavy_hitters(ws, 8) AS hh FROM sk_in GROUP BY k ORDER BY k")
      .as[(String, Seq[(String, Long)])].collect().toList
    assert(hh == List(("g", Seq(("a", 3L), ("b", 1L))), ("h", Seq(("c", 1L)))), s"got $hh")
    val bk = s2.sql(
        "SELECT k, graft_bottomk_sample(id, v, 8) AS smp FROM sk_in GROUP BY k ORDER BY k")
      .as[(String, Seq[Double])].collect().toList
    assert(bk == List(("g", Seq(2.0, 9.0)), ("h", Seq(5.0))), s"got $bk")
  }

  test("sketch MERGE aggregates resolve in SQL and roll sub-sketches up") {
    val s2 = Bridge.newSessionWithExtensions(spark, new GraftExtensions()(_))
    import s2.implicits._
    Seq(("g", "s1", Seq("a", "a", "b"), 1L, 2.0), ("g", "s2", Seq("a"), 2L, 9.0),
      ("g", "s2", Seq("b"), 3L, 5.0))
      .toDF("k", "sub", "ws", "id", "v").createOrReplaceTempView("rk_in")
    // fine sketches per (k, sub), merged per k — pure SQL, two levels
    val hh = s2.sql(
        """SELECT k, graft_heavy_hitters_merge(hh, 8) AS hh FROM (
          |  SELECT k, sub, graft_heavy_hitters(ws, 8) AS hh FROM rk_in GROUP BY k, sub)
          |GROUP BY k""".stripMargin)
      .as[(String, Seq[(String, Long)])].collect().toList
    assert(hh == List(("g", Seq(("a", 3L), ("b", 2L)))), s"got $hh")
    val bk = s2.sql(
        """SELECT k, graft_bottomk_merge(pairs, 2) AS pairs FROM (
          |  SELECT k, sub, graft_bottomk_pairs(id, v, 2) AS pairs FROM rk_in GROUP BY k, sub)
          |GROUP BY k""".stripMargin)
      .as[(String, Seq[(Long, Double)])].collect().toList
    // bottom-2 keys of {1, 2, 3} -> pairs (1, 2.0), (2, 9.0) in key order
    assert(bk == List(("g", Seq((1L, 2.0), (2L, 9.0)))), s"got $bk")
  }

  test("KMV aggregate resolves in SQL (analyzer wraps the AggregateFunction)") {
    val s2 = Bridge.newSessionWithExtensions(spark, new GraftExtensions()(_))
    import s2.implicits._
    Seq(("g", Seq(5L, 1L, 9L)), ("g", Seq(1L, 7L)), ("h", Seq(2L)))
      .toDF("k", "xs").createOrReplaceTempView("kmv_in")
    val rows = s2.sql(
        "SELECT k, graft_kmv_distinct(xs, 2) AS mins FROM kmv_in GROUP BY k ORDER BY k")
      .as[(String, Seq[Long])].collect().toList
    // g: distinct {5,1,9,7} -> 2 smallest [1,5]; h: [2]
    assert(rows == List(("g", Seq(1L, 5L)), ("h", Seq(2L))), s"got $rows")
  }
}
