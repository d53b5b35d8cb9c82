package graft

import org.apache.spark.sql.functions._

import graft.llm.{Relevance, TextIndex}

/** The persisted inverted index must be a pure storage re-layout of
  * Relevance.bm25: identical ranking from a build+probe, identical
  * again after epoch appends (stats summed, df re-counted from the
  * union), and the probe's postings scan must carry the bucket
  * partition filter — pruning is the point of the layout.
  */
class TextIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("scan", "filter", "spark")

  private def bm25Rows(docs: org.apache.spark.sql.DataFrame) =
    Relevance.bm25(spark, docs, "doc_id", "text", terms, k = 10)
      .collect().map(_.toSeq).toSeq

  test("probe reproduces Relevance.bm25 exactly and prunes on bucket") {
    val docs = Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 16)
    val probed = TextIndex.probe(spark, idx, terms, k = 10)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\].*"),
      s"the postings scan must prune on the query terms' buckets:\n$plan")
    assert(probed.collect().map(_.toSeq).toSeq == bm25Rows(docs))
  }

  test("probePhrase: adjacency-exact matches, scrambled phrase misses, bucket-pruned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),     // "a b" at 1 and 4; "b c" at 2
      (2L, "b a c b a"),     // "a b" never adjacent (b a, not a b)
      (3L, "a x b"),         // both terms present, NOT adjacent
      (4L, "a b c"),         // "a b c" the only 3-gram match
      (5L, "a a a")          // duplicate-term phrase "a a" at 1 and 2
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 8)
    val ab = TextIndex.probePhrase(spark, idx, Seq("a", "b"), k = 10)
    val plan = ab.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\].*"),
      s"the phrase probe's postings scan must stay bucket-pruned:\n$plan")
    val abRows = ab.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(abRows == Map(1L -> 2L, 4L -> 1L),
      s"'a b': doc 1 twice, doc 4 once, doc 2/3 (unordered/gapped) excluded: $abRows")
    // rank order: occurrences desc, doc asc
    assert(ab.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // scrambled order must NOT match where the original does
    val ba = TextIndex.probePhrase(spark, idx, Seq("b", "a"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(ba == Map(2L -> 2L), s"'b a' matches only doc 2's actual adjacencies: $ba")
    // 3-term chain: every consecutive pair must line up
    val abc = TextIndex.probePhrase(spark, idx, Seq("a", "b", "c"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(abc == Map(1L -> 1L, 4L -> 1L), s"$abc")
    // duplicate-term phrase: overlapping occurrences both count
    val aa = TextIndex.probePhrase(spark, idx, Seq("a", "a"), k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(aa == Map(5L -> 2L), s"'a a': doc 5 at starts 1 and 2: $aa")
  }

  test("probeProximity: slop=0 is the exact phrase; windows admit gaps, not backwards order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),   // exact "a b" twice
      (2L, "b a c b a"),   // forward "a c b" (one gap) at slop>=1
      (3L, "a x b"),       // one-word gap: slop>=1 admits it
      (4L, "a x x b"),     // two-word gap: slop>=2
      (5L, "a a a"),
      (6L, "b a")          // ONLY backwards adjacency: never matches "a b" at slop<=1
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-prox").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 8)
    // the proximity probe's postings scan stays bucket-pruned (the
    // probePhrase pin — slop widens anchors, never the scanned buckets)
    val proxPlan = TextIndex.probeProximity(spark, idx, Seq("a", "b"), k = 10, slop = 1)
      .queryExecution.executedPlan.toString
    assert(proxPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\].*"),
      s"probeProximity must prune on the phrase terms' buckets:\n$proxPlan")
    // slop=0 equals the exact operator row-for-row, every phrase
    for (ph <- Seq(Seq("a", "b"), Seq("b", "a"), Seq("a", "b", "c"), Seq("a", "a"))) {
      val exact = TextIndex.probePhrase(spark, idx, ph, k = 10)
        .collect().map(_.toSeq).toSeq
      val prox0 = TextIndex.probeProximity(spark, idx, ph, k = 10, slop = 0)
        .collect().map(_.toSeq).toSeq
      assert(prox0 == exact, s"slop=0 must equal probePhrase for $ph: $prox0 vs $exact")
    }
    // slop=1: the one-word gaps match (docs 2 and 3), the two-word gap
    // does not, and doc 6's purely BACKWARDS "b a" stays unmatched
    val s1 = TextIndex.probeProximity(spark, idx, Seq("a", "b"), k = 10, slop = 1)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(s1.contains(3L) && s1(2L) == 1L && !s1.contains(4L) && !s1.contains(6L), s"$s1")
    // doc 1 at slop=1: anchors 1 and 4 still match, plus anchor 3
    // (a@4 in [3,4], b@5 in [4,5]) — windows overlap generously
    assert(s1(1L) == 3L, s"$s1")
    // slop=2 admits the two-word gap
    val s2 = TextIndex.probeProximity(spark, idx, Seq("a", "b"), k = 10, slop = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(s2.contains(4L), s"$s2")
    // the slop fan-out bound is loud
    val err = intercept[IllegalArgumentException] {
      TextIndex.probeProximity(spark, idx, Seq("a", "b"), k = 10, slop = 99)
    }
    assert(err.getMessage.contains("slop"), err.getMessage)
  }

  test("probePhraseAll: every qid equals its single-phrase probe; batch bound enforced") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-phrase-all").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 16)
    val phrases = Seq(1L -> Seq("fast", "scan"), 2L -> Seq("slow", "filter"),
      3L -> Seq("spark"))
    val qRows = phrases.map { case (q, ph) => org.apache.spark.sql.Row(q, ph) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ph",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false), nullable = false)))
    val queries = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), schema)
    val batch = TextIndex.probePhraseAll(spark, idx, queries, "qid", "ph", k = 5)
      .collect().groupBy(_.getLong(0))
    phrases.foreach { case (qid, ph) =>
      val solo = TextIndex.probePhrase(spark, idx, ph, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val got = batch(qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == solo, s"qid $qid: batch $got vs solo $solo")
    }
    // the control-plane bound fails loudly, before any scan
    val err = intercept[IllegalArgumentException] {
      TextIndex.probePhraseAll(spark, idx, queries, "qid", "ph", k = 5, maxQueries = 2)
    }
    assert(err.getMessage.contains("control-plane"), err.getMessage)
    // duplicate qids would blend two phrases' slot sets — reject loudly
    val dupRows = Seq(
      org.apache.spark.sql.Row(7L, Seq("fast", "scan")),
      org.apache.spark.sql.Row(7L, Seq("spark")))
    val dupQs = spark.createDataFrame(java.util.Arrays.asList(dupRows: _*), schema)
    val dupErr = intercept[IllegalArgumentException] {
      TextIndex.probePhraseAll(spark, idx, dupQs, "qid", "ph", k = 5)
    }
    assert(dupErr.getMessage.contains("duplicate qids"), dupErr.getMessage)
  }

  test("epoch append scores identically to a fresh build over the union") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-ep").toString
    TextIndex.write(first, "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx, second, "doc_id", "text", epoch = 1L)
    // df, n_docs, sum_dl must all reflect the concatenated corpus
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(docs))
  }

  test("streaming ingest: per-batch epochs, probe equals batch bm25 at every point") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-st").toString
    // empty base: the frozen modulus exists before any data arrives
    TextIndex.write(Tables.documents(spark, dir).filter(lit(false)),
      "doc_id", "text", idx, nBuckets = 16)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // continuous trigger: AvailableNow would fold both adds into ONE
    // micro-batch and never exercise the cross-epoch stats union
    val q = TextIndex.ingestStream(
      in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      "doc_id", "text", idx).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
        == bm25Rows(Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)),
        "mid-stream probe must equal batch bm25 over the ingested prefix")
      in.addData(b2: _*); q.processAllAvailable()
      assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
        == bm25Rows(Tables.documents(spark, dir)),
        "final probe must equal batch bm25 over everything")
    } finally q.stop()
  }

  test("maintenance under load: probes stay committed-epoch-consistent through ingest + compaction") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq
    val batches = (0 until 4).map(i => docs.filter(_._1 % 4 == i))
    // every committed-prefix view a probe may legally observe
    val prefixViews = (0 to 4).map { k =>
      val pred = if (k == 0) lit(false) else col("doc_id") % 4 < k
      bm25Rows(Tables.documents(spark, dir).filter(pred))
    }
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-load").toString
    TextIndex.write(Tables.documents(spark, dir).filter(lit(false)),
      "doc_id", "text", idx, nBuckets = 16)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextIndex.ingestStream(
      in.toDF().select(col("_1").as("doc_id"), col("_2").as("text")),
      "doc_id", "text", idx).start()
    def probeNow(): Seq[Seq[Any]] =
      TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
    try {
      // epoch 1, then a probe workload between epochs
      in.addData(batches(0): _*); q.processAllAvailable()
      assert(probeNow() == prefixViews(1), "probe after epoch 1")
      // epoch 2 committed, probe, then MAINTENANCE between probe
      // workloads while the stream stays up — and probe again
      in.addData(batches(1): _*); q.processAllAvailable()
      assert(probeNow() == prefixViews(2), "probe after epoch 2")
      assert(TextIndex.compactIfNeeded(spark, idx, maxRoots = 2) > 0,
        "3 roots (base + 2 epochs) must fold under maxRoots = 2")
      assert(probeNow() == prefixViews(2), "compaction must not move scores")
      // epoch 3 races the probe: addData WITHOUT waiting — the probe
      // may see the pre- or post-commit view, never a partial epoch
      in.addData(batches(2): _*)
      val racing = probeNow()
      assert(racing == prefixViews(2) || racing == prefixViews(3),
        "a probe during an in-flight epoch sees a committed prefix, never a torn view")
      q.processAllAvailable()
      assert(probeNow() == prefixViews(3), "probe after epoch 3")
      // post-compaction ingest keeps appending against the frozen modulus
      in.addData(batches(3): _*); q.processAllAvailable()
      assert(probeNow() == prefixViews(4), "final probe = batch bm25 over everything")
      // and maintenance after the run folds back to a single root
      TextIndex.compactEpochs(spark, idx)
      assert(probeNow() == prefixViews(4), "post-run compaction preserves the ranking")
    } finally q.stop()
  }

  test("append is replay-idempotent: re-writing an epoch does not double-count") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-rp").toString
    TextIndex.write(first, "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx, second, "doc_id", "text", epoch = 1L)
    TextIndex.appendEpoch(spark, idx, second, "doc_id", "text", epoch = 1L)
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(docs))
  }

  test("describe: one row per committed root; uncommitted epochs absent") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-de").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 3L)
    val d = TextIndex.describe(spark, idx)
      .collect().map(r => r.getAs[String]("root") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_buckets"))).toMap
    assert(d.keySet == Set("postings", "postings-b3"))
    assert(d.values.map(_._1).sum == docs.count())
    assert(d.values.forall(_._2 == 16L))
    // positional telemetry: pos_entries == sum_dl (one entry per token
    // occurrence), n_postings <= pos_entries, and the share is their
    // exact ratio — all from the pos-free count columns
    TextIndex.describe(spark, idx).collect().foreach { r =>
      val (sumDl, nPost, posE) = (r.getAs[Long]("sum_dl"),
        r.getAs[Long]("n_postings"), r.getAs[Long]("pos_entries"))
      assert(posE == sumDl && nPost >= 1 && nPost <= posE)
      assert(r.getAs[Double]("pos_share") == posE.toDouble / (nPost + posE).toDouble)
    }
    // kill the epoch's commit marker: it must vanish from the report
    fsOf(idx).delete(new org.apache.hadoop.fs.Path(idx, "postings-b3/.stats"), true)
    assert(TextIndex.describe(spark, idx).collect().map(_.getString(0)).toSeq
      == Seq("postings"))
  }

  private def fsOf(p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("compaction folds epochs into one root; scores unchanged") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-cp").toString
    TextIndex.write(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", epoch = 1L)
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", epoch = 2L)
    assert(TextIndex.compactEpochs(spark, idx) == 2)
    val fs = fsOf(idx)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).toSet
    assert(names == Set("postings"), s"epoch roots must be gone, saw $names")
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(docs))
    assert(TextIndex.compactEpochs(spark, idx) == 0, "nothing left to fold")
  }

  test("probeAll: every qid's ranking equals its single-query probe, across roots") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-ma").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 1L)
    val batch: Seq[(Long, Seq[String])] = Seq(
      5L -> Seq("scan", "filter", "spark"),
      9L -> Seq("merge", "vector", "window"),
      2L -> Seq("filter", "merge"))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    batch.foreach { case (q, ts) => rows.add(org.apache.spark.sql.Row(q, ts)) }
    import org.apache.spark.sql.types._
    val qdf = spark.createDataFrame(rows, StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("terms", ArrayType(StringType, containsNull = false), nullable = false))))
    val multi = TextIndex.probeAll(spark, idx, qdf, "qid", "terms", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.toSeq.drop(1)).toSeq }
    batch.foreach { case (q, ts) =>
      val single = TextIndex.probe(spark, idx, ts, k = 10).collect().map(_.toSeq).toSeq
      assert(multi(q) == single, s"qid $q batch ranking must equal its single probe")
    }
    // the data-plane route (queries never collect) returns the
    // IDENTICAL rows, and its postings scan carries a runtime
    // (dynamic) partition filter on the bucket key
    val dist = TextIndex.probeAllDistributed(spark, idx, qdf, "qid", "terms", k = 10)
    val distRows = dist.collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.toSeq.drop(1)).toSeq }
    assert(distRows == multi, "distributed batch probe must equal probeAll exactly")
    val plan = dist.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]* IN \\([^\\]]*\\].*"),
      s"the postings scan must prune on the bounded bucket-id set:\n$plan")
  }

  test("probeAllDistributed fails as loudly as probeAll on a terms-less query (ADVICE r9)") {
    val docs = Tables.documents(spark, dir).limit(20).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-guard").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 8)
    import org.apache.spark.sql.types._
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(1L, Seq("the")))
    rows.add(org.apache.spark.sql.Row(2L, Seq.empty[String]))
    val qdf = spark.createDataFrame(rows, StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("terms", ArrayType(StringType, containsNull = false), nullable = false))))
    val e = intercept[IllegalArgumentException] {
      TextIndex.probeAllDistributed(spark, idx, qdf, "qid", "terms", k = 5)
    }
    assert(e.getMessage.contains("query 2 has no terms"), e.getMessage)
  }

  test("compactIfNeeded: ingest stays self-maintaining under maxRoots") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-cin").toString
    val m = 2
    TextIndex.write(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", idx, nBuckets = 16)
    for (e <- 1 to 4) {
      TextIndex.appendEpoch(spark, idx,
        docs.filter(col("doc_id") % 5 === e), "doc_id", "text", epoch = e.toLong)
      // before the hook at most m+1 roots can exist (threshold m folds
      // on the NEXT call after crossing), after it at most m
      val before = TextIndex.describe(spark, idx).count()
      assert(before <= m + 1, s"roots before maintenance: $before")
      TextIndex.compactIfNeeded(spark, idx, maxRoots = m)
      val after = TextIndex.describe(spark, idx).count()
      assert(after <= m, s"roots after maintenance: $after")
    }
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(docs), "maintenance must never change scores")
    assert(TextIndex.compactIfNeeded(spark, idx, maxRoots = 2) == 0,
      "single folded root is under every threshold")
  }

  test("probeQl reproduces Relevance.queryLikelihood exactly, across epoch roots") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-ql").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx, nBuckets = 16)
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 1L)
    // ctf and T must reflect the concatenated corpus (stats summed,
    // ctf from the unioned pruned postings) — same union contract as
    // the BM25 probe
    assert(TextIndex.probeQl(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == Relevance.queryLikelihood(spark, docs, "doc_id", "text", terms, k = 10)
        .collect().map(_.toSeq).toSeq)
  }

  test("probeExpanded: feedback terms recover a vocabulary-mismatch doc; fbTerms=0 == probe") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark engine fast spark"),
      (2L, "engine fast turbo power"), // never says "spark" — the mismatch case
      (3L, "unrelated words entirely elsewhere")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-rm3").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 8)
    val plain = TextIndex.probe(spark, idx, Seq("spark"), k = 3)
      .select("doc").as[Long].collect().toSet
    assert(plain == Set(1L), "only the literal match without expansion")
    val expanded = TextIndex.probeExpanded(spark, idx, Seq("spark"), k = 3,
        fbDocs = 1, fbTerms = 2)
      .select("doc").as[Long].collect().toSet
    // winner d1's top non-query terms (engine, fast) pull in d2
    assert(expanded == Set(1L, 2L), s"expansion must recover the mismatch doc, got $expanded")
    // fbTerms = 0 degenerates to the plain probe exactly
    assert(TextIndex.probeExpanded(spark, idx, Seq("spark"), k = 3, fbDocs = 1, fbTerms = 0)
        .collect().map(_.toSeq).toSeq
      == TextIndex.probe(spark, idx, Seq("spark"), k = 3).collect().map(_.toSeq).toSeq)
  }

  test("postings files are doc-ascending; the mining scan pushes the doc id set") {
    val docs = Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-sort").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 16)
    // layout: within EVERY part file, doc is ascending — the secondary
    // sort that makes the doc-IN mining filter row-group-prunable
    val fs = fsOf(idx)
    val parts = fs.globStatus(
      new org.apache.hadoop.fs.Path(idx, "postings/bucket=*/part-*")).toSeq
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val ds = spark.read.parquet(p.getPath.toString)
        .select(col("doc")).collect().map(_.getLong(0)).toSeq
      assert(ds == ds.sorted, s"file ${p.getPath} not doc-ascending")
    }
    // the feedback-mining scan runs eagerly inside probeExpanded —
    // capture its plan and pin the pushed doc filter
    val stagePlans = graft.metrics.Capture.run(spark) {
      TextIndex.probeExpanded(spark, idx, terms, k = 5, fbDocs = 2, fbTerms = 2).collect()
    }.plans
    val minedPlan = stagePlans.find(p =>
      p.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(doc[^\\]]*\\].*"))
    assert(minedPlan.nonEmpty,
      s"expected the mining scan to push In(doc, ...) to parquet among:\n${
        stagePlans.mkString("\n---\n")}")
  }

  test("probeAll enforces the control-plane batch bound") {
    import spark.implicits._
    val docs = Seq((1L, "spark engine"), (2L, "fast scan")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-bound").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 4)
    val queries = Seq((1L, Seq("spark")), (2L, Seq("scan")), (3L, Seq("fast")))
      .toDF("qid", "terms")
    val e = intercept[IllegalArgumentException] {
      TextIndex.probeAll(spark, idx, queries, "qid", "terms", k = 2, maxQueries = 2)
    }
    assert(e.getMessage.contains("control-plane"), e.getMessage)
    // at the bound it runs fine
    assert(TextIndex.probeAll(spark, idx, queries, "qid", "terms", k = 2, maxQueries = 3)
      .count() > 0)
  }

  test("probe fails loudly when roots disagree on the frozen modulus") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-mod").toString
    TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 16)
    // a root copied in from an index built with a DIFFERENT modulus:
    // silent mis-routing is the failure mode the assertion prevents
    val alien = java.nio.file.Files.createTempDirectory("graft-text-index-alien").toString
    TextIndex.write(docs.limit(5), "doc_id", "text", alien, nBuckets = 8)
    val fs = fsOf(idx)
    fs.rename(new org.apache.hadoop.fs.Path(alien, "postings"),
      new org.apache.hadoop.fs.Path(idx, "postings-b1"))
    val e = intercept[IllegalArgumentException] {
      TextIndex.probe(spark, idx, terms, k = 10).collect()
    }
    assert(e.getMessage.contains("frozen bucket modulus"), e.getMessage)
  }

  test("crash windows: uncommitted epoch skipped; committed stage finished by probe") {
    val docs = Tables.documents(spark, dir).localCheckpoint(false)
    val half = docs.filter(col("doc_id") % 2 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-text-index-cw").toString
    TextIndex.write(half, "doc_id", "text", idx, nBuckets = 16)
    val fs = fsOf(idx)
    // an append that died before its .stats commit marker: probes skip it
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 7L)
    fs.delete(new org.apache.hadoop.fs.Path(idx, "postings-b7/.stats"), true)
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(half), "uncommitted epoch must be invisible")
    // replay commits it
    TextIndex.appendEpoch(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 7L)
    // a compaction that died right after its manifest commit: the next
    // probe finishes the fold and scores the full corpus
    val stage = graft.state.StagedCompact.stagePath(idx, "postings")
    fs.rename(new org.apache.hadoop.fs.Path(idx, "postings"),
      new org.apache.hadoop.fs.Path(idx, "postings-b0")) // pretend base was an epoch
    // stage = everything, manifest lists both roots
    TextIndex.write(docs, "doc_id", "text", s"$idx/.tmp-rebuild", nBuckets = 16)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/.tmp-rebuild/postings"), stage)
    graft.state.StagedCompact.commit(spark, idx, "postings",
      Seq("postings-b0", "postings-b7"))
    assert(TextIndex.probe(spark, idx, terms, k = 10).collect().map(_.toSeq).toSeq
      == bm25Rows(docs), "probe must finish the committed fold")
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).toSet
    assert(!names.exists(_.startsWith("postings-b")), s"folded roots must be gone, saw $names")
  }
}
