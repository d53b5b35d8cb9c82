package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Classify, Dedup, Multimodal, Similarity, TextAnalysis, TextOps}
import graft.operators.Graph

/** LLM-training-data pipeline queries over `documents` / `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
  * near-dup + ANN, text analysis, multimodal plumbing.
  *
  * Every oracle below is GENERATED from the same constants the Spark
  * plans use (TextOps / Similarity), so the two engines compute
  * bit-identical results — including the custom string hash, which the
  * oracle reproduces with `list_reduce` over `ascii()`.
  */
object LlmQueries {

  import ParityQueries.Q

  private val P = TextOps.P
  private val K = TextOps.MinhashK
  private val NB = TextOps.Bands
  private val R = TextOps.Rows

  // ------------------------------------------------ oracle SQL builders

  /** DuckDB replica of graft.functions.StrHash over expression `e`.
    * Lambda variable names are suffixed to survive nesting.
    */
  private def strhashSql(e: String, v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), ${v}i -> CAST(ascii(substring($e, CAST(${v}i AS INT), 1)) AS BIGINT))), " +
      s"(${v}a, ${v}c) -> (${v}a*31 + ${v}c) % $P)"

  /** words / shingles / distinct shingle hashes, as DuckDB CTEs. */
  private val xsCte: String =
    s"""wt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(ws)-1),
       |      si -> ws[CAST(si AS INT)] || ' ' || ws[CAST(si+1 AS INT)] || ' ' || ws[CAST(si+2 AS INT)]) END AS sg
       |  FROM wt),
       |xs AS (
       |  SELECT doc_id, list_distinct(list_transform(sg, sgv -> ${strhashSql("sgv", "h")})) AS xh
       |  FROM sh)""".stripMargin

  // ------------------------------------------------------- exact dedup

  val dedupExact: Q = (s, dir) =>
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text").orderBy("text_hash", "canonical_id")

  val dedupExactSql: String =
    s"""SELECT ${strhashSql("text", "h")} AS text_hash,
       |  min(doc_id) AS canonical_id, count(*) AS n_copies
       |FROM documents GROUP BY 1, md5(text) ORDER BY text_hash, canonical_id""".stripMargin

  /** Near-exact dedup over the C4/CCNet canonical text form
    * (Dedup.exactNormalized): lowercase, punctuation → space,
    * whitespace collapsed — casing/punctuation/spacing near-copies
    * now hash together; the exchange stays the text-free
    * (strhash, md5) key.
    */
  val dedupNormalized: Q = (s, dir) =>
    Dedup.exactNormalized(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("text_hash", "canonical_id")

  val dedupNormalizedSql: String =
    s"""WITH nt AS (SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 \t\n]', ' ', 'g'), '[ \t\n]+', ' ', 'g')) AS ntext
       |  FROM documents)
       |SELECT ${strhashSql("ntext", "h")} AS text_hash,
       |  min(doc_id) AS canonical_id, count(*) AS n_copies
       |FROM nt GROUP BY 1, md5(ntext) ORDER BY text_hash, canonical_id""".stripMargin

  /** Cross-document line dedup (Dedup.lineDedup, the CCNet
    * paragraph-dedup shape) over the two-word-line seeding of
    * `q_dup_lines`: lines living in more than 10 distinct docs
    * (shared boilerplate) drop; docs reassemble from survivors in
    * order. The oracle replays the hash-keyed document frequency and
    * the ordered reassembly.
    */
  val lineDedupQ: Q = (s, dir) => {
    val seeded = Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
    Dedup.lineDedup(seeded, "doc_id", "text", maxDocFrequency = 10).orderBy("doc")
  }

  val lineDedupSql: String =
    s"""WITH seeded AS (
       |  SELECT doc_id,
       |    regexp_replace(text, '(\\S+ \\S+) ', '\\1' || chr(10), 'g') AS text FROM documents),
       |ls AS (SELECT doc_id, string_split(text, chr(10)) AS la FROM seeded),
       |l AS (SELECT doc_id, unnest(la) AS line,
       |        unnest(range(1, len(la)+1)) AS pos FROM ls),
       |lx AS (SELECT doc_id, pos, line, ${strhashSql("line", "q")} AS lh FROM l),
       |f AS (SELECT lh, count(DISTINCT doc_id) AS ndocs FROM lx GROUP BY 1)
       |SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN ndocs > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  COALESCE(string_agg(CASE WHEN ndocs <= 10 THEN line END, chr(10) ORDER BY pos),
       |    '') AS text
       |FROM lx JOIN f USING (lh) GROUP BY 1 ORDER BY doc""".stripMargin

  // ----------------------------------------------------- minhash + LSH

  val dedupMinhash: Q = (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.6)
      .orderBy("doc_a", "doc_b")

  /** signatures + band digests over the whole corpus, as DuckDB CTEs —
    * the shared prefix of every MinHash oracle (self-join pairs,
    * clusters, canonical, and the cross-corpus incremental variants).
    */
  private val sigBandsCtes: String =
    s"""$xsCte,
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, $K),
       |    mi -> list_min(list_transform(xh,
       |      mx -> ((mi*${TextOps.AMul} % ${P - 1} + 1) * mx + (mi*${TextOps.BMul} + 7) % $P) % $P))) AS sig
       |  FROM xs),
       |bands AS (
       |  SELECT doc_id, CAST(bj AS INT) AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, bj*$R+1, bj*$R+$R)),
       |      (ba, bv) -> (ba*31 + bv) % $P) AS digest
       |  FROM sig, range(0, $NB) t(bj))""".stripMargin

  /** MinHash-pairs CTE chain, ending in `mh(doc_a, doc_b, est_jaccard)`
    * — shared by the pairs oracle and the clusters oracle.
    */
  private val minhashCtes: String =
    s"""$sigBandsCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
       |mh AS (
       |  SELECT * FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      CAST(len(list_filter(range(1, ${K + 1}), zi -> sa.sig[CAST(zi AS INT)] = sb.sig[CAST(zi AS INT)])) AS DOUBLE) / $K AS est_jaccard
       |    FROM cand c
       |    JOIN sig sa ON sa.doc_id = c.doc_a
       |    JOIN sig sb ON sb.doc_id = c.doc_b)
       |  WHERE est_jaccard >= 0.6)""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, est_jaccard FROM mh ORDER BY doc_a, doc_b""".stripMargin

  /** MOSS-style winnowed-fingerprint overlap (Dedup.winnowedPairs):
    * doc pairs sharing ≥ 3 robust-winnowing fingerprints (gram 16,
    * window 8 — any shared substring of ≥ 23 chars leaves at least
    * one shared fingerprint), boilerplate fingerprints df-capped at
    * 25 docs before the pair join (parameters measured sparse on this
    * corpus: 277 pairs at sf0.01 vs 95k/124k at gram 8 / cap 100 —
    * the dense-graph check the repo's pair operators require). The oracle replays the rolling
    * gram hashes, the per-window list_min selection (position-free:
    * tie choice never changes the selected VALUE), the cap, and the
    * pair counts.
    */
  val winnowPairs: Q = (s, dir) =>
    Dedup.winnowedPairs(Tables.documents(s, dir), "doc_id", "text",
        gram = 16, window = 8, minShared = 3, maxDf = 25L)
      .orderBy("doc_a", "doc_b")

  val winnowPairsSql: String =
    s"""WITH wt AS (SELECT doc_id, text, length(text) AS len FROM documents
       |  WHERE length(text) >= 16),
       |hsq AS (SELECT doc_id, len - 15 AS m,
       |    list_transform(range(1, len - 14),
       |      gi -> ${strhashSql("substring(text, CAST(gi AS INT), 16)", "w")}) AS hs
       |  FROM wt),
       |fpl AS (SELECT doc_id,
       |    CASE WHEN m <= 8 THEN [list_min(hs)]
       |         ELSE list_distinct(list_transform(range(1, m - 6), wi ->
       |           list_min(list_slice(hs, CAST(wi AS INT), CAST(wi + 7 AS INT))))) END AS fps
       |  FROM hsq),
       |fp AS (SELECT doc_id, unnest(fps) AS f FROM fpl),
       |capped AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 25),
       |kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN capped ON capped.f = fp.f)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared_fps
       |FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup clusters: connected components (Graph.connectedComponents)
    * over the minhash pairs. The oracle is the recursive transitive
    * closure (Graph.componentsCtes) — component(v) = min id reachable
    * from v (incl. v).
    */
  val dedupClusters: Q = (s, dir) =>
    Graph.connectedComponents(
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.6),
        "doc_a", "doc_b")
      .select(col("node").as("doc"), col("component"))
      .orderBy("doc")

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |${Graph.componentsCtes("mh", "doc_a", "doc_b", "")}
       |SELECT node AS doc, component FROM comp ORDER BY doc""".stripMargin

  /** Leakage-safe train/val/test split
    * (TextAnalysis.assignSplitLeakageSafe): the 90/5/5 hash split of
    * q_split_assign, but hashed on the minhash near-dup COMPONENT so a
    * doc and its near-twin can never straddle train and eval. The
    * oracle nests the recursive-closure clustering (dedupClusters) and
    * replays the group hash + cumulative thresholds.
    */
  val splitLeakageSafe: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.llm.TextAnalysis.assignSplitLeakageSafe(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.6),
        "doc_a", "doc_b",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .select(col("doc_id").as("doc"), col("split_group"), col("split_bucket"), col("split"))
      .orderBy("doc")
  }

  val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |${Graph.componentsCtes("mh", "doc_a", "doc_b", "")},
       |g AS (
       |  SELECT d.doc_id AS doc,
       |    COALESCE(c.component, d.doc_id) AS split_group
       |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
       |b AS (
       |  SELECT doc, split_group,
       |    ${strhashSql("CAST(split_group AS VARCHAR)", "h")} % 1000 AS split_bucket
       |  FROM g)
       |SELECT doc, split_group, split_bucket,
       |  CASE WHEN split_bucket < 900 THEN 'train'
       |       WHEN split_bucket < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc""".stripMargin

  /** Near-dup-aware corpus reduction: per-source survivor counts after
    * dropping non-canonical members of every minhash cluster.
    */
  val dedupCanonical: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.canonicalize(docs, "doc_id",
        Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.6))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("source")
  }

  /** The composed curation-gate semantics as ONE batch query
    * (graft.streaming.CurationGate.gateBatch with an empty baseline —
    * exactly what each streaming micro-batch runs): quality filter →
    * decontamination against the benchmark slice's persisted shingle
    * set → exact dedup → near-dup CC canonicalize. The oracle replays
    * all four stages; the output is the accepted id set.
    */
  val curationGate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
    val evalShingles = Dedup.evalShingleSet(evalDocs, "text")
    graft.streaming.CurationGate.gateBatch(docs, evalShingles, None,
        minQuality = 0.35, maxOverlap = 0.5, minJaccard = 0.6)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  val curationGateSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE
       |gw AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |gq AS (
       |  SELECT doc_id, text, ws,
       |    round(
       |      CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) * 0.4
       |      + least(CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) / 10.0, 1.0) * 0.3
       |      + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3, 6) AS q
       |  FROM gw),
       |s1 AS (SELECT doc_id, text, ws FROM gq WHERE q >= 0.35),
       |sh1 AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(ws)-1),
       |      si -> ws[CAST(si AS INT)] || ' ' || ws[CAST(si+1 AS INT)] || ' ' || ws[CAST(si+2 AS INT)]) END AS sg
       |  FROM s1),
       |xs1 AS (
       |  SELECT doc_id, list_distinct(list_transform(sg, sgv -> ${strhashSql("sgv", "h")})) AS xh
       |  FROM sh1),
       |evw AS (SELECT text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |        FROM documents WHERE doc_id % 97 = 0),
       |evs AS (
       |  SELECT CASE WHEN len(ws) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(ws)-1),
       |      si -> ws[CAST(si AS INT)] || ' ' || ws[CAST(si+1 AS INT)] || ' ' || ws[CAST(si+2 AS INT)]) END AS sg
       |  FROM evw),
       |evx AS (SELECT DISTINCT unnest(list_transform(sg, sgv -> ${strhashSql("sgv", "e")})) AS x FROM evs),
       |ex1 AS (SELECT doc_id, unnest(xh) AS x FROM xs1),
       |gsz AS (SELECT doc_id, count(*) AS n FROM ex1 GROUP BY 1),
       |ghit AS (SELECT ex1.doc_id, count(*) AS h FROM ex1 JOIN evx ON ex1.x = evx.x GROUP BY 1),
       |s2 AS (
       |  SELECT s1.doc_id, s1.text FROM s1
       |  JOIN gsz ON gsz.doc_id = s1.doc_id
       |  LEFT JOIN ghit ON ghit.doc_id = s1.doc_id
       |  WHERE CAST(COALESCE(ghit.h, 0) AS DOUBLE) / gsz.n < 0.5),
       |canon AS (
       |  SELECT min(doc_id) AS doc_id FROM s2
       |  GROUP BY ${strhashSql("text", "c")}, md5(text)),
       |s3 AS (SELECT s2.doc_id FROM s2 JOIN canon USING (doc_id)),
       |xs3 AS (SELECT xs1.doc_id, xs1.xh FROM xs1 JOIN s3 USING (doc_id)),
       |gsig AS (
       |  SELECT doc_id, list_transform(range(0, $K),
       |    mi -> list_min(list_transform(xh,
       |      mx -> ((mi*${TextOps.AMul} % ${P - 1} + 1) * mx + (mi*${TextOps.BMul} + 7) % $P) % $P))) AS sig
       |  FROM xs3),
       |gband AS (
       |  SELECT doc_id, CAST(bj AS INT) AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, bj*$R+1, bj*$R+$R)),
       |      (ba, bv) -> (ba*31 + bv) % $P) AS digest
       |  FROM gsig, range(0, $NB) t(bj)),
       |gcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM gband a JOIN gband b
       |    ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
       |gmh AS (
       |  SELECT * FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      CAST(len(list_filter(range(1, ${K + 1}), zi -> sa.sig[CAST(zi AS INT)] = sb.sig[CAST(zi AS INT)])) AS DOUBLE) / $K AS est_jaccard
       |    FROM gcand c
       |    JOIN gsig sa ON sa.doc_id = c.doc_a
       |    JOIN gsig sb ON sb.doc_id = c.doc_b)
       |  WHERE est_jaccard >= 0.6),
       |${Graph.componentsCtes("gmh", "doc_a", "doc_b", "g")}
       |SELECT doc_id FROM s3
       |WHERE doc_id NOT IN (SELECT node FROM gcomp WHERE node <> component)
       |ORDER BY doc_id""".stripMargin
  }

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |${Graph.componentsCtes("mh", "doc_a", "doc_b", "")}
       |SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM documents WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- incremental (cross-corpus) dedup

  /** The incremental-ingest scenario on one table, scale-factor
    * independent: even doc_ids play the accumulated corpus, odd doc_ids
    * the new snapshot.
    */
  private def splitDocs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir)
    (docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0))
  }

  val dedupAgainstPairs: Q = (s, dir) => {
    val (newDocs, oldDocs) = splitDocs(s, dir)
    Dedup.minhashAgainstPairs(newDocs, oldDocs, "doc_id", "text", minJaccard = 0.6)
      .orderBy("new_doc", "old_doc")
  }

  /** Cross-corpus candidate + verify CTEs, ending in
    * `xmh(new_doc, old_doc, est_jaccard)` — new side = odd doc_ids.
    */
  private val crossMinhashCtes: String =
    s"""$sigBandsCtes,
       |candx AS (
       |  SELECT DISTINCT b.doc_id AS new_doc, a.doc_id AS old_doc
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.digest = b.digest
       |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |xmh AS (
       |  SELECT * FROM (
       |    SELECT c.new_doc, c.old_doc,
       |      CAST(len(list_filter(range(1, ${K + 1}), zi -> sa.sig[CAST(zi AS INT)] = sb.sig[CAST(zi AS INT)])) AS DOUBLE) / $K AS est_jaccard
       |    FROM candx c
       |    JOIN sig sa ON sa.doc_id = c.new_doc
       |    JOIN sig sb ON sb.doc_id = c.old_doc)
       |  WHERE est_jaccard >= 0.6)""".stripMargin

  val dedupAgainstPairsSql: String =
    s"""WITH $crossMinhashCtes
       |SELECT new_doc, old_doc, est_jaccard FROM xmh ORDER BY new_doc, old_doc""".stripMargin

  /** [[dedupAgainstPairs]] through the bloom-pruned signature handoff:
    * the accumulated side's (band, digest) bloom ([[Dedup.sigBandBloom]])
    * filters the new side's band probe before the candidate join, so
    * docs whose bands are all bloom-negative never reach the exchange.
    * Oracle is IDENTICAL to the unpruned variant — one-sided bloom
    * error can only pass through (band, digest) cells the join would
    * reject anyway, so the pair set is unchanged; only the plan
    * economics differ (DuckDB knows nothing of the bloom).
    */
  val dedupAgainstBloomed: Q = (s, dir) => {
    val (newDocs, oldDocs) = splitDocs(s, dir)
    val newSigs = Dedup.signatures(newDocs, "doc_id", "text").localCheckpoint(false)
    val oldSigs = Dedup.signatures(oldDocs, "doc_id", "text").localCheckpoint(false)
    val bloom = Dedup.sigBandBloom(oldSigs, numBits = 1 << 20)
    Dedup.minhashAgainstSigs(newSigs, oldSigs, minJaccard = 0.6, Some(bloom))
      .orderBy("new_doc", "old_doc")
  }

  val dedupAgainstBloomedSql: String = dedupAgainstPairsSql

  /** The end-user incremental API: per-source survivor counts of the new
    * snapshot after dropping docs near-dupping the accumulated corpus.
    */
  val dedupIncremental: Q = (s, dir) => {
    val (newDocs, oldDocs) = splitDocs(s, dir)
    Dedup.dedupAgainst(newDocs, oldDocs, "doc_id", "text", minJaccard = 0.6)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("source")
  }

  val dedupIncrementalSql: String =
    s"""WITH $crossMinhashCtes
       |SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM documents
       |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_doc FROM xmh)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Incremental-ingest exact gate with a bloom pre-filter
    * (Dedup.bloomGate): docs with doc_id % 3 == 0 play the incoming
    * batch; the accumulated corpus is everything else PLUS the % 6 == 0
    * half of the batch (a re-ingest overlap, so the gate sees real
    * duplicates). The bloom — built distributed over the accumulated
    * strhashes — resolves definitely-new batch docs in the scan
    * itself; only bloom-positives reach the exact (strhash, md5)
    * confirm join, whose verdict the oracle reproduces with plain text
    * equality: the bloom changes the plan economics, never the answer.
    */
  val dedupBloomGate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val acc = docs.filter(col("doc_id") % 3 =!= 0 || col("doc_id") % 6 === 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val bloom = Dedup.corpusBloom(acc, "text", numBits = 1 << 20)
    Dedup.bloomGate(batch, acc, "doc_id", "text", bloom).orderBy("doc")
  }

  val dedupBloomGateSql: String =
    """SELECT b.doc_id AS doc,
      |  EXISTS(SELECT 1 FROM documents a
      |         WHERE (a.doc_id % 3 <> 0 OR a.doc_id % 6 = 0) AND a.text = b.text) AS is_dup
      |FROM documents b WHERE b.doc_id % 3 = 0 ORDER BY doc""".stripMargin

  // ----------------------------------------------------------- simhash

  private val simhashCte: String = {
    val bits = TextOps.SimBits
    s"""wt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 2 THEN [text]
       |    ELSE list_transform(range(1, len(ws)),
       |      bi -> ws[CAST(bi AS INT)] || ' ' || ws[CAST(bi+1 AS INT)]) END AS bgs
       |  FROM wt),
       |hs AS (
       |  SELECT doc_id, list_transform(bgs,
       |    wd -> ${strhashSql("wd || '#'", "g")} * $P + ${strhashSql("wd", "h")}) AS hl
       |  FROM bg),
       |sh AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, $bits),
       |    sb -> CASE WHEN list_sum(list_transform(hl,
       |        sv -> CASE WHEN (sv & CAST(power(2, sb) AS BIGINT)) > 0 THEN 1 ELSE -1 END)) > 0
       |      THEN CAST(power(2, sb) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM hs)""".stripMargin
  }

  val dedupSimhash: Q = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 6)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")

  val dedupSimhashSql: String =
    s"""WITH $simhashCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-doc simhash values (the reusable fingerprint table). */
  val textSimhash: Q = (s, dir) =>
    Dedup.simhashDocs(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textSimhashSql: String =
    s"""WITH $simhashCte
       |SELECT doc_id AS doc, simhash FROM sh ORDER BY doc""".stripMargin

  // ---------------------------------------------------- n-gram jaccard

  val dedupJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  val dedupJaccardSql: String =
    s"""WITH $xsCte,
       |sizes AS (SELECT doc_id, len(xh) AS n FROM xs),
       |ex AS (SELECT doc_id, unnest(xh) AS x FROM xs),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------ embedding near-dup

  /** DuckDB strict left-to-right fold dot product over 1-based arrays. */
  private def dotSql(a: String, b: String, dims: Int, v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${dims + 1}), ${v}i -> $a[CAST(${v}i AS INT)] * $b[CAST(${v}i AS INT)])), " +
      s"(${v}a, ${v}x) -> ${v}a + ${v}x)"

  // `WHERE nrm > 0` mirrors Similarity.prepared's zero-vector quarantine
  private val normCte: String =
    s"""p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, v,
       |  sqrt(${dotSql("v", "v", 64, "n")}) AS nrm FROM p) WHERE nrm > 0)""".stripMargin

  val embedNearDup: Q = (s, dir) =>
    Similarity.nearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", minCosine = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")

  /** Per-label centroid cosine matrix (Similarity.labelCentroidSim):
    * decimal-exact elementwise sums give each label's centroid
    * direction; the oracle replays sums, norms, and the strict-fold
    * cosines.
    */
  val labelCentroids: Q = (s, dir) =>
    Similarity.labelCentroidSim(Tables.embeddings(s, dir), "label", "embedding")
      .orderBy("label_a", "label_b")

  val labelCentroidsSql: String =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT * FROM (SELECT label, v,
       |  sqrt(${dotSql("v", "v", 64, "n")}) AS nrm FROM e) WHERE nrm > 0),
       |sums AS (
       |  SELECT label, kj AS j, SUM(CAST(v[CAST(kj AS INT)] AS DECIMAL(38,12))) AS sx
       |  FROM n, (SELECT unnest(range(1, 65)) AS kj)
       |  GROUP BY label, kj),
       |m1 AS (SELECT label, list(CAST(sx AS DOUBLE) ORDER BY j) AS cv FROM sums GROUP BY label),
       |m2 AS (SELECT label, cv, sqrt(${dotSql("cv", "cv", 64, "m")}) AS cn FROM m1)
       |SELECT a.label AS label_a, b.label AS label_b,
       |  CASE WHEN a.cn > 0 AND b.cn > 0
       |    THEN round(${dotSql("a.cv", "b.cv", 64, "d")} / (a.cn * b.cn), 6) END AS cosine
       |FROM m2 a JOIN m2 b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin

  val embedNearDupSql: String =
    s"""WITH $normCte
       |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a.v", "b.v", 64, "d")} / (a.nrm * b.nrm) AS cosine
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------- ANN top-k

  val annTopK: Q = (s, dir) =>
    Similarity.bruteTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annTopKSql: String =
    s"""WITH $normCte
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.vec_id AS qid, b.vec_id AS nid,
       |    ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Hard-negative mining (Similarity.hardNegatives): per anchor the 5
    * most similar vectors BELOW the 0.3 near-dup ceiling — informative
    * negatives for retrieval training with latent positives excluded
    * before ranking. Oracle: brute scoring + the ceiling + a window
    * rank.
    */
  val hardNegativesQ: Q = (s, dir) =>
    Similarity.hardNegatives(s, Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, dupCeiling = 0.3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val hardNegativesSql: String =
    s"""WITH $normCte
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM (
       |    SELECT q.vec_id AS qid, b.vec_id AS nid,
       |      ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cosine
       |    FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id)
       |  WHERE cosine < 0.3)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Scalar-quantized ANN (Similarity.sq8TopK): int8-range codes + one
    * scale per vector, candidates ranked by quantized cosine, exact
    * re-rank of the rerankDepth×k survivors. The oracle replays the
    * whole funnel — floor quantization, integer-valued code dots,
    * candidate cut, re-rank.
    */
  val annSq8: Q = (s, dir) =>
    Similarity.sq8TopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, rerankDepth = 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annSq8Sql: String =
    s"""WITH $normCte,
       |mx AS (SELECT vec_id, v, nrm,
       |  list_max(list_transform(v, qx -> abs(qx))) AS vmax FROM n),
       |qz AS (SELECT vec_id, v, nrm,
       |  list_transform(range(1, 65), qi ->
       |    CASE WHEN vmax > 0 THEN floor(v[CAST(qi AS INT)] * 127.0 / vmax) ELSE 0.0 END) AS qv
       |  FROM mx),
       |qnt AS (SELECT vec_id, v, nrm, qv,
       |  sqrt(${dotSql("qv", "qv", 64, "qa")}) AS qn FROM qz),
       |qs AS (SELECT vec_id AS qid, qv AS qqv, qn AS qqn FROM qnt WHERE vec_id % 100 = 0),
       |ap AS (
       |  SELECT qid, t.vec_id AS nid,
       |    ${dotSql("qqv", "t.qv", 64, "ab")} / (qqn * t.qn) AS qcos
       |  FROM qnt t JOIN qs ON qid <> t.vec_id),
       |ck AS (SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, nid) AS crk FROM ap)
       |  WHERE crk <= 15),
       |ex AS (
       |  SELECT qid, nid, ${dotSql("a.v", "b.v", 64, "e")} / (a.nrm * b.nrm) AS cosine
       |  FROM ck JOIN n a ON a.vec_id = qid JOIN n b ON b.vec_id = nid)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank FROM ex)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Product-quantized ANN (Similarity.pqTopK, ADC+R): 8 subspaces ×
    * 16 codewords from the hash-spread sample, L2 argmin encode, a
    * decimal-quantized ADC table per query, exact re-rank of the top
    * 15. The oracle replays codebook construction, the strict-fold
    * sub-distances, the argmin tie-break, the ADC lookup-sum, and the
    * re-rank.
    */
  val annPq: Q = (s, dir) =>
    Similarity.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annPqSql: String = {
    val l2 =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), " +
        "pi -> (t.v[CAST(b.s*8 + pi + 1 AS INT)] - b.cw[CAST(pi + 1 AS INT)]) " +
        "* (t.v[CAST(b.s*8 + pi + 1 AS INT)] - b.cw[CAST(pi + 1 AS INT)]))), " +
        "(pa, px) -> pa + px)"
    val qdot =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), " +
        "qi -> q.qv[CAST(b.s*8 + qi + 1 AS INT)] * b.cw[CAST(qi + 1 AS INT)])), " +
        "(qa, qx) -> qa + qx)"
    s"""WITH $normCte,
       |smp0 AS (SELECT vec_id, v FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "p1")}, vec_id LIMIT 16),
       |smp AS (SELECT v, row_number() OVER (
       |    ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "p2")}, vec_id) - 1 AS c
       |  FROM smp0),
       |cb AS (SELECT sx.s, smp.c,
       |    list_transform(range(1, 9), ci -> v[CAST(sx.s*8 + ci AS INT)]) AS cw
       |  FROM smp, (SELECT unnest(range(0, 8)) AS s) sx),
       |enc0 AS (SELECT t.vec_id AS vid, b.s, b.c, $l2 AS l2 FROM n t, cb b),
       |enc AS (SELECT vid, s, c AS code FROM (
       |    SELECT vid, s, c, row_number() OVER (PARTITION BY vid, s ORDER BY l2, c) AS rk
       |    FROM enc0) WHERE rk = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id % 100 = 0),
       |qadc AS (SELECT q.qid, b.s, b.c,
       |    CAST(round($qdot, 6) AS DECIMAL(18,6)) AS pdot
       |  FROM q, cb b),
       |ap AS (SELECT a.qid, e.vid AS nid, CAST(sum(a.pdot) AS DOUBLE) AS adc
       |  FROM enc e JOIN qadc a ON a.s = e.s AND a.c = e.code AND a.qid <> e.vid
       |  GROUP BY 1, 2),
       |ck AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS crk
       |    FROM ap) WHERE crk <= 15),
       |ex AS (
       |  SELECT qid, nid, ${dotSql("a.v", "b.v", 64, "e")} / (a.nrm * b.nrm) AS cosine
       |  FROM ck JOIN n a ON a.vec_id = qid JOIN n b ON b.vec_id = nid)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank FROM ex)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Same top-k, computed by the custom bounded-heap physical operator
    * (graft.plans.TopKPerKey) — identical oracle proves plan
    * equivalence.
    */
  val annTopKPlan: Q = (s, dir) =>
    Similarity.bruteTopKPlan(s, Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annLsh: Q = (s, dir) =>
    Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annLshSql: String = {
    val bucket =
      s"CAST(list_sum(list_transform(range(0, 16), lp -> " +
        s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(0, 64), lj -> v[CAST(lj+1 AS INT)] * CAST((lp*31 + lj*17) % 7 - 3 AS DOUBLE))), " +
        s"(la, lx) -> la + lx) > 0 THEN CAST(power(2, lp) AS BIGINT) ELSE 0 END)) AS BIGINT)"
    s"""WITH $normCte,
       |bk AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.vec_id AS qid, b.vec_id AS nid,
       |    ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM bk q JOIN bk b
       |    ON q.vec_id % 100 = 0 AND b.bucket = q.bucket AND b.vec_id <> q.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Retrieval-quality evaluation (Relevance.rankingMetrics): the PQ
    * funnel's per-query recall@5 / MRR / nDCG@5 against the
    * brute-force truth — the metric suite that grades every ANN
    * funnel, as a first-class oracled operator rather than a spec-only
    * number (PQ at its default re-rank depth is deliberately lossy, so
    * the metrics have real spread). DCG weights are driver-shared
    * DECIMAL(18,6) literals (no engine ever evaluates log2); the
    * oracle nests the proven brute and PQ oracles as the truth and
    * candidate subqueries and replays the hit join and both per-query
    * aggregations.
    */
  val annEval: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val qp = col("vid") % 100 === 0
    val truth = Similarity.bruteTopK(emb, "vec_id", "embedding", qp, k = 5)
    val cand = Similarity.pqTopK(emb, "vec_id", "embedding", qp, k = 5)
    graft.llm.Relevance.rankingMetrics(truth, cand, k = 5).orderBy("qid")
  }

  /** The per-qid recall/MRR/nDCG oracle for rankingMetrics over any
    * candidate SQL (truth = the brute top-5). Shared by q_ann_eval and
    * the q_ann_shootout macro-average so the metric replay can't
    * drift.
    */
  private def rankingEvalSql(candSql: String): String = {
    val ws = graft.llm.Relevance.dcgWeights(5)
    def wCase(r: String): String =
      s"CASE $r " + (1 to 5).map(i =>
        s"WHEN $i THEN CAST(${ws(i - 1).toPlainString} AS DECIMAL(18,6))").mkString(" ") +
        " END"
    s"""WITH tr AS (SELECT qid, rank, nid FROM ($annTopKSql)),
       |cd AS (SELECT qid, rank, nid FROM ($candSql)),
       |ta AS (SELECT qid, count(*) AS n_truth, sum(${wCase("rank")}) AS idcg
       |  FROM tr GROUP BY 1),
       |cr AS (SELECT c.qid, c.rank,
       |    CASE WHEN t.nid IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM cd c LEFT JOIN tr t ON t.qid = c.qid AND t.nid = c.nid),
       |ca AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_hits,
       |    min(CASE WHEN rel = 1 THEN rank END) AS first_hit,
       |    sum(CASE WHEN rel = 1 THEN ${wCase("rank")}
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS dcg
       |  FROM cr GROUP BY 1)
       |SELECT ta.qid, n_truth, COALESCE(n_hits, 0) AS n_hits,
       |  round(CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_truth, 6) AS recall,
       |  COALESCE(round(1.0 / first_hit, 6), 0.0) AS mrr,
       |  round(CAST(COALESCE(dcg, CAST(0 AS DECIMAL(18,6))) AS DOUBLE)
       |    / CAST(idcg AS DOUBLE), 6) AS ndcg
       |FROM ta LEFT JOIN ca ON ca.qid = ta.qid ORDER BY ta.qid""".stripMargin
  }

  val annEvalSql: String = rankingEvalSql(annPqSql)

  /** ANN method shootout: the three lossy funnels (PQ, SQ8, multi-probe
    * LSH) macro-averaged under rankingMetrics against the shared brute
    * truth — the comparison table an index-tuning session reads.
    * Per-query metrics (already 6-decimal) quantize to DECIMAL(18,6),
    * sum exactly, divide by the query count once. The oracle reuses
    * the shared rankingEvalSql per method and the three proven
    * candidate oracles.
    *
    * The LSH arm runs at its TUNED operating point, planes = 6
    * (VERDICT r8: the 16-plane default measured recall 0.0 on this
    * near-uniform synthetic corpus — 2¹⁶ buckets over 500 vectors
    * leaves every vector alone in its bucket). Measured at sf0.01:
    * recall@5 0.60/0.48/0.32/0.0 at 3/4/6/16 planes, with 6 planes
    * probing ~12% of the corpus per query — a real recall/cost point
    * comparable to IVF's 4-probe 0.40. When-not-to-use: data-agnostic
    * hyperplanes need CLUSTERED embeddings; on near-uniform data
    * prefer ivfTopK (data-adaptive cells) or lshTopKLearned.
    */
  val annShootout: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val qp = col("vid") % 100 === 0
    val truth = Similarity.bruteTopK(emb, "vec_id", "embedding", qp, k = 5)
    def macroEval(cand: DataFrame, tag: String): DataFrame =
      graft.llm.Relevance.rankingMetrics(truth, cand, k = 5)
        .select(lit(tag).as("method"), col("recall"), col("mrr"), col("ndcg"))
        .groupBy(col("method"))
        .agg(
          count(lit(1)).as("n_queries"),
          round(sum(col("recall").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_recall"),
          round(sum(col("mrr").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_mrr"),
          round(sum(col("ndcg").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_ndcg"))
    macroEval(Similarity.pqTopK(emb, "vec_id", "embedding", qp, k = 5), "pq")
      .unionAll(macroEval(
        Similarity.sq8TopK(emb, "vec_id", "embedding", qp, k = 5, rerankDepth = 3), "sq8"))
      .unionAll(macroEval(
        Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", qp, k = 5,
          planes = 6), "lsh_probe"))
      .orderBy("method")
  }

  // lazy: annLshProbeSql initializes later in the file
  lazy val annShootoutSql: String = {
    def branch(candSql: String, tag: String): String =
      s"""SELECT '$tag' AS method, CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(CAST(recall AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_recall,
         |  round(CAST(sum(CAST(mrr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_mrr,
         |  round(CAST(sum(CAST(ndcg AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_ndcg
         |FROM (${rankingEvalSql(candSql)})""".stripMargin
    Seq(branch(annPqSql, "pq"), branch(annSq8Sql, "sq8"),
      branch(annLshProbeSqlAt(6), "lsh_probe"))
      .mkString("", "\nUNION ALL ", "\nORDER BY method")
  }

  /** Diversity-aware retrieval (Similarity.mmrTopK): 5 greedy MMR
    * rounds over the brute top-20 candidates — each pick maximizes
    * 0.7·rel − 0.3·max-sim-to-selected, pushing near-duplicates of
    * already-picked results out of the remaining slots. The oracle
    * unrolls all five rounds over the same quantized rel/sim tables
    * with shared λ literals.
    */
  val annMmr: Q = (s, dir) =>
    Similarity.mmrTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, candDepth = 20)
      .orderBy("qid", "rank")

  val annMmrSql: String = {
    val sc1 = "CAST(0.700000 AS DECIMAL(18,6)) * rel"
    val scJ = "CAST(0.700000 AS DECIMAL(18,6)) * rel - " +
      "CAST(0.300000 AS DECIMAL(18,6)) * pen"
    val sb = new StringBuilder
    sb.append(
      s"""WITH $normCte,
         |cd AS (SELECT qid, nid, CAST(round(cos, 6) AS DECIMAL(18,6)) AS rel FROM (
         |  SELECT q.vec_id AS qid, b.vec_id AS nid,
         |    ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
         |  FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id)
         |  WHERE rank <= 20),
         |sm AS (SELECT a.qid, a.nid, b.nid AS nb,
         |    CAST(round(${dotSql("x.v", "y.v", 64, "s")} / (x.nrm * y.nrm), 6)
         |      AS DECIMAL(18,6)) AS sim
         |  FROM cd a JOIN cd b ON a.qid = b.qid AND a.nid <> b.nid
         |  JOIN n x ON x.vec_id = a.nid JOIN n y ON y.vec_id = b.nid),
         |s1 AS (SELECT qid, 1 AS rank, nid, CAST(sc AS DOUBLE) AS score FROM (
         |  SELECT qid, nid, $sc1 AS sc,
         |    row_number() OVER (PARTITION BY qid ORDER BY $sc1 DESC, nid) AS rk
         |  FROM cd) WHERE rk = 1),
         |a1 AS (SELECT * FROM s1)""".stripMargin)
    for (j <- 2 to 5) {
      val prev = s"a${j - 1}"
      sb.append(",\n")
      sb.append(
        s"""p$j AS (SELECT c.qid, c.nid, c.rel, max(m.sim) AS pen
           |  FROM cd c JOIN $prev s ON s.qid = c.qid
           |  JOIN sm m ON m.qid = c.qid AND m.nid = c.nid AND m.nb = s.nid
           |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
           |    WHERE x.qid = c.qid AND x.nid = c.nid)
           |  GROUP BY 1, 2, 3),
           |s$j AS (SELECT qid, $j AS rank, nid, CAST(sc AS DOUBLE) AS score FROM (
           |  SELECT qid, nid, $scJ AS sc,
           |    row_number() OVER (PARTITION BY qid ORDER BY $scJ DESC, nid) AS rk
           |  FROM p$j) WHERE rk = 1),
           |a$j AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$j)""".stripMargin)
    }
    sb.append(
      """
        |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, score
        |FROM a5 ORDER BY qid, rank""".stripMargin)
    sb.toString
  }

  /** Data-adaptive LSH (Similarity.lshTopKLearned): 6 hyperplanes built
    * as differences of the 12 lowest-id corpus vectors — deterministic
    * and driver-computed, so the oracle can REBUILD the identical planes
    * in SQL (same exact double subtractions, same strict-fold dots) and
    * the hash gate applies despite the "learned" weights.
    */
  val annLshLearned: Q = (s, dir) =>
    Similarity.lshTopKLearned(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, planes = 6)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annLshLearnedSql: String = {
    val dotW = dotSql("v", "ws[CAST(lp+1 AS INT)]", 64, "s")
    val bucket =
      s"CAST(list_sum(list_transform(range(0, 6), lp -> " +
        s"CASE WHEN $dotW > 0 THEN CAST(power(2, lp) AS BIGINT) ELSE 0 END)) AS BIGINT)"
    s"""WITH $normCte,
       |smp AS (SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS rn
       |  FROM n ORDER BY vec_id LIMIT 12),
       |pl AS (SELECT a.rn // 2 AS pid,
       |    list_transform(range(1, 65), li -> a.v[CAST(li AS INT)] - b.v[CAST(li AS INT)]) AS w
       |  FROM smp a JOIN smp b ON b.rn = a.rn + 1 AND a.rn % 2 = 0),
       |pls AS (SELECT list(w ORDER BY pid) AS ws FROM pl),
       |bk AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n CROSS JOIN pls)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.vec_id AS qid, b.vec_id AS nid,
       |    ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM bk q JOIN bk b
       |    ON q.vec_id % 100 = 0 AND b.bucket = q.bucket AND b.vec_id <> q.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Hamming-radius-1 multi-probe: 17 probes per query (own bucket + 16
    * single-bit flips) — higher recall than q_ann_lsh at the same
    * bucket granularity.
    */
  val annLshProbe: Q = (s, dir) =>
    Similarity.lshTopKMultiProbe(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  /** The multi-probe LSH replica at an arbitrary plane count — shared
    * by q_ann_lsh_probe (16 planes, the granularity-matched shape) and
    * the shootout's tuned arm (6 planes; see [[annShootout]]).
    */
  private def annLshProbeSqlAt(planes: Int): String = {
    val bucket =
      s"CAST(list_sum(list_transform(range(0, $planes), lp -> " +
        s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(0, 64), lj -> v[CAST(lj+1 AS INT)] * CAST((lp*31 + lj*17) % 7 - 3 AS DOUBLE))), " +
        s"(la, lx) -> la + lx) > 0 THEN CAST(power(2, lp) AS BIGINT) ELSE 0 END)) AS BIGINT)"
    s"""WITH $normCte,
       |bk AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n),
       |qp AS (SELECT vec_id, v, nrm,
       |         unnest(list_prepend(bucket, list_transform(range(0, $planes),
       |           pp -> xor(bucket, CAST(power(2, pp) AS BIGINT))))) AS probe
       |       FROM bk WHERE vec_id % 100 = 0)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.vec_id AS qid, b.vec_id AS nid,
       |    ${dotSql("q.v", "b.v", 64, "d")} / (q.nrm * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
       |  FROM qp q JOIN bk b ON b.bucket = q.probe AND b.vec_id <> q.vec_id)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  val annLshProbeSql: String = annLshProbeSqlAt(16)

  /** Fixed-k centroids (64 lowest ids — constant in corpus size) with
    * 4-probe search (measured recall@5 vs brute force on this corpus:
    * 0.28/0.40/0.60 at 2/4/8 probes; 4 probes ≈ 1/16 of the corpus
    * scanned per query). Mirrors Similarity.ivfTopK's quantizer exactly.
    */
  val annIvf: Q = (s, dir) =>
    Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, numCentroids = 64, nProbe = 4)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  /** The PERSISTED IVF path (IvfIndex.write + probe): the corpus is
    * bucketed once into cell-partitioned parquet, then probed with
    * partition pruning — and must return the IDENTICAL rows as the
    * one-job ivfTopK, so it shares q_ann_ivf's oracle verbatim.
    * PlanSpec pins the pruned scan.
    */
  val annIvfIndex: Q = (s, dir) => {
    // ONE fixed path, overwritten per invocation — a fresh temp dir per
    // call leaked three full index copies per Bench min-of-3 run
    // (ADVICE r6). Bench/Verify never run concurrently (repo invariant),
    // so the shared path is safe.
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-ivf-index-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      idx, numCentroids = 64)
    graft.llm.IvfIndex.probe(s, idx,
        Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nProbe = 4)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  /** The persisted index built on the K-MEANS-REFINED quantizer
    * (IvfIndex.write refineIters = 1): the Lloyd iteration runs once at
    * build, the refined centroids persist under centroids/, and the
    * probe follows them untouched — so the lifecycle must reproduce the
    * one-job refined result and shares q_ann_ivf_kmeans's oracle
    * verbatim.
    */
  val annIvfIndexRefined: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-ivf-index-refined-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      idx, numCentroids = 64, refineIters = 1)
    graft.llm.IvfIndex.probe(s, idx,
        Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nProbe = 4)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  /** The FAISS-style IVF-SQ8 lifecycle (IvfIndex.write sq8 = true +
    * probe sq8Rerank = 3): cells persist int8 codes next to the full
    * vectors; the candidate stage reads ONLY the code block of the
    * probed cells and the exact re-rank touches just the top-15
    * candidates per query. The oracle replays cell assignment, the
    * floor quantization, the in-cell quantized candidate cut, and the
    * exact re-rank.
    */
  val annIvfSq8: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-ivf-index-sq8-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      idx, numCentroids = 64, sq8 = true)
    graft.llm.IvfIndex.probe(s, idx,
        Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nProbe = 4, sq8Rerank = 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  val annIvfSq8Sql: String =
    s"""WITH $normCte,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT 64),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |mx AS (SELECT vid, v, nrm, cell,
       |  list_max(list_transform(v, qx -> abs(qx))) AS vmax FROM asg),
       |qz AS (SELECT vid, v, nrm, cell,
       |  list_transform(range(1, 65), qi ->
       |    CASE WHEN vmax > 0 THEN floor(v[CAST(qi AS INT)] * 127.0 / vmax) ELSE 0.0 END) AS qv
       |  FROM mx),
       |qnt AS (SELECT vid, cell, qv, sqrt(${dotSql("qv", "qv", 64, "qa")}) AS qn FROM qz),
       |q AS (SELECT vid AS qid, v AS qfv, nrm AS qfn, cell FROM rk
       |      WHERE crk <= 4 AND vid % 100 = 0),
       |qmx AS (SELECT qid, qfv, list_max(list_transform(qfv, qx -> abs(qx))) AS qmax
       |        FROM (SELECT DISTINCT qid, qfv FROM q)),
       |qq AS (SELECT qid,
       |  list_transform(range(1, 65), qi ->
       |    CASE WHEN qmax > 0 THEN floor(qfv[CAST(qi AS INT)] * 127.0 / qmax) ELSE 0.0 END) AS qqv
       |  FROM qmx),
       |qqn AS (SELECT qid, qqv, sqrt(${dotSql("qqv", "qqv", 64, "qb")}) AS qqn FROM qq),
       |ap AS (
       |  SELECT q.qid, t.vid AS nid,
       |    ${dotSql("w.qqv", "t.qv", 64, "ab")} / (w.qqn * t.qn) AS qcos
       |  FROM q JOIN qnt t ON t.cell = q.cell AND t.vid <> q.qid
       |  JOIN qqn w ON w.qid = q.qid),
       |ck AS (SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, nid) AS crk FROM ap)
       |  WHERE crk <= 15),
       |ex AS (
       |  SELECT qid, nid, ${dotSql("a.v", "b.v", 64, "e")} / (a.nrm * b.nrm) AS cosine
       |  FROM ck JOIN n a ON a.vec_id = qid JOIN n b ON b.vec_id = nid)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank FROM ex)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The FAISS IVFPQ lifecycle (IvfIndex.write pqM = 8 + probe
    * pqRerank = 3): cells persist 8-byte PQ codes next to the vectors,
    * the codebook persists frozen next to the quantizer, and the probe
    * scores candidates by decimal ADC lookup-sums over ONLY the code
    * column of the probed cells before the id-pruned exact re-rank.
    * The oracle composes the IVF cell assignment with the PQ
    * encode/ADC funnel restricted to each query's probed cells.
    */
  val annIvfPq: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-ivf-index-pq-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      idx, numCentroids = 64, pqM = 8)
    graft.llm.IvfIndex.probe(s, idx,
        Tables.embeddings(s, dir).filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nProbe = 4, pqRerank = 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  val annIvfPqSql: String = {
    val l2 =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), " +
        "pi -> (t.v[CAST(b.s*8 + pi + 1 AS INT)] - b.cw[CAST(pi + 1 AS INT)]) " +
        "* (t.v[CAST(b.s*8 + pi + 1 AS INT)] - b.cw[CAST(pi + 1 AS INT)]))), " +
        "(pa, px) -> pa + px)"
    val qdot =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), " +
        "qi -> q.qfv[CAST(b.s*8 + qi + 1 AS INT)] * b.cw[CAST(qi + 1 AS INT)])), " +
        "(qa, qx) -> qa + qx)"
    s"""WITH $normCte,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "cc")}, vec_id LIMIT 64),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |smp0 AS (SELECT vec_id, v FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "p1")}, vec_id LIMIT 16),
       |smp AS (SELECT v, row_number() OVER (
       |    ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "p2")}, vec_id) - 1 AS c
       |  FROM smp0),
       |cb AS (SELECT sx.s, smp.c,
       |    list_transform(range(1, 9), ci -> v[CAST(sx.s*8 + ci AS INT)]) AS cw
       |  FROM smp, (SELECT unnest(range(0, 8)) AS s) sx),
       |enc0 AS (SELECT t.vid, b.s, b.c, $l2 AS l2 FROM asg t, cb b),
       |enc AS (SELECT vid, s, c AS code FROM (
       |    SELECT vid, s, c, row_number() OVER (PARTITION BY vid, s ORDER BY l2, c) AS rk
       |    FROM enc0) WHERE rk = 1),
       |q AS (SELECT vid AS qid, v AS qfv, cell FROM rk
       |      WHERE crk <= 4 AND vid % 100 = 0),
       |qadc AS (SELECT q.qid, b.s, b.c,
       |    CAST(round($qdot, 6) AS DECIMAL(18,6)) AS pdot
       |  FROM (SELECT DISTINCT qid, qfv FROM q) q, cb b),
       |ap AS (SELECT q.qid, t2.vid AS nid, CAST(sum(a.pdot) AS DOUBLE) AS adc
       |  FROM q JOIN asg t2 ON t2.cell = q.cell AND t2.vid <> q.qid
       |  JOIN enc e ON e.vid = t2.vid
       |  JOIN qadc a ON a.qid = q.qid AND a.s = e.s AND a.c = e.code
       |  GROUP BY 1, 2),
       |ck AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS crk
       |    FROM ap) WHERE crk <= 15),
       |ex AS (
       |  SELECT qid, nid, ${dotSql("a.v", "b.v", 64, "e")} / (a.nrm * b.nrm) AS cosine
       |  FROM ck JOIN n a ON a.vec_id = qid JOIN n b ON b.vec_id = nid)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank FROM ex)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  val annIvfSql: String =
    s"""WITH $normCte,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT 64),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |q AS (SELECT vid AS qid, v AS qv, nrm AS qn, cell FROM rk
       |      WHERE crk <= 4 AND vid % 100 = 0)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.qid, b.vid AS nid,
       |    ${dotSql("q.qv", "b.v", 64, "d")} / (q.qn * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${dotSql("q.qv", "b.v", 64, "r")} / (q.qn * b.nrm) DESC, b.vid) AS rank
       |  FROM q JOIN asg b ON b.cell = q.cell AND b.vid <> q.qid)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** IVF with ONE Lloyd refinement iteration (Similarity.ivfTopK
    * refineIters = 1) — exercises the k-means path under the full hash
    * gate: refined centroids are elementwise DECIMAL(38,12) sums of
    * their members (order-independent — same direction as the float
    * mean, and cosine only sees direction), so the oracle replicates
    * the entire iteration exactly: assign → decimal sums → re-rank.
    */
  val annIvfKmeans: Q = (s, dir) =>
    Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") % 100 === 0, k = 5, numCentroids = 64, nProbe = 4,
        refineIters = 1)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("qid", "rank")

  val annIvfKmeansSql: String =
    s"""WITH $normCte,
       |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT 64),
       |rk0 AS (
       |  SELECT n.vec_id AS vid, n.v AS v, c0.cid AS cid,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c0.cv", 64, "a")} / (n.nrm * c0.cn) DESC, c0.cid) AS crk
       |  FROM n, c0),
       |asg0 AS (SELECT cid, v FROM rk0 WHERE crk = 1),
       |sums AS (
       |  SELECT cid, kj AS j, SUM(CAST(v[CAST(kj AS INT)] AS DECIMAL(38,12))) AS sx
       |  FROM asg0, (SELECT unnest(range(1, 65)) AS kj)
       |  GROUP BY cid, kj),
       |m1 AS (SELECT cid, list(CAST(sx AS DOUBLE) ORDER BY j) AS ncv FROM sums GROUP BY cid),
       |m2 AS (SELECT cid, ncv, sqrt(${dotSql("ncv", "ncv", 64, "m")}) AS ncn FROM m1),
       |c AS (SELECT c0.cid, COALESCE(m2.ncv, c0.cv) AS cv, COALESCE(m2.ncn, c0.cn) AS cn
       |      FROM c0 LEFT JOIN m2 ON m2.cid = c0.cid),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "b")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |q AS (SELECT vid AS qid, v AS qv, nrm AS qn, cell FROM rk
       |      WHERE crk <= 4 AND vid % 100 = 0)
       |SELECT qid, rank, nid, round(cosine, 6) AS cosine FROM (
       |  SELECT q.qid, b.vid AS nid,
       |    ${dotSql("q.qv", "b.v", 64, "d")} / (q.qn * b.nrm) AS cosine,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${dotSql("q.qv", "b.v", 64, "r")} / (q.qn * b.nrm) DESC, b.vid) AS rank
       |  FROM q JOIN asg b ON b.cell = q.cell AND b.vid <> q.qid)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------ text analysis

  val textLang: Q = (s, dir) =>
    TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textLangSql: String = {
    val markers = TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(ws, lw -> list_contains($lst, lw))) AS s_$lang"
    }.mkString(",\n    ")
    val langs = markers.map(_._1)
    val caseChain = langs.zipWithIndex.map { case (lang, i) =>
      val conds = langs.zipWithIndex.filter(_._2 != i).map { case (other, j) =>
        if (j < i) s"s_$lang > s_$other" else s"s_$lang >= s_$other"
      }
      s"WHEN s_$lang > 0 AND ${conds.mkString(" AND ")} THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws FROM documents),
       |sc AS (
       |  SELECT doc_id AS doc,
       |    $scores
       |  FROM wt)
       |SELECT doc, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $caseChain ELSE 'und' END AS pred_lang
       |FROM sc ORDER BY doc""".stripMargin
  }

  val textQuality: Q = (s, dir) =>
    TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textQualitySql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH wt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws FROM documents),
       |f AS (
       |  SELECT doc_id AS doc, len(ws) AS n_words,
       |    CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) AS stop_ratio,
       |    CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) AS awl,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha
       |  FROM wt)
       |SELECT doc, n_words, round(stop_ratio, 6) AS stopword_ratio,
       |  round(awl, 6) AS avg_word_len, round(alpha, 6) AS alpha_ratio,
       |  round(stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.3 + alpha * 0.3, 6) AS quality_score
       |FROM f ORDER BY doc""".stripMargin
  }

  private val lrCols = Seq("_x0", "_x1", "_x2")

  /** The quality-LR feature frame, the Spark twin of [[lrFeatsSql]]:
    * label = the quality-score median split, features = the three
    * quality ratios centered and ×10-scaled by fixed literals
    * (corpus-independent constants, so the oracle stays static): raw
    * ratios have std 0.007-0.2, which stalls GD — centered ×10
    * features reach 90% accuracy in 40 rounds. Checkpointed: one
    * tokenize feeds training AND scoring.
    */
  private def lrFeatures(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc"),
        (col("quality_score") >= 0.405).cast("double").as("_y"),
        ((col("stopword_ratio") - lit(0.06)) * lit(10.0)).as("_x0"),
        ((least(col("avg_word_len") / lit(10.0), lit(1.0)) - lit(0.45)) * lit(10.0)).as("_x1"),
        ((col("alpha_ratio") - lit(0.82)) * lit(10.0)).as("_x2"))
      .localCheckpoint(false)

  /** The held-out fifth under the holdout-trained LR, the Spark twin of
    * [[lrHoldoutInnerSql]] filtered to `doc % 5 = 0`: train on the
    * doc_id % 5 != 0 eighty percent, score the other fifth, join its
    * label. Columns: doc, margin_micro, score, keep, label.
    */
  private def lrHeldOut(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val feats = lrFeatures(s, dir)
    val wu = Classify.logisticTrain(
      feats.filter(col("doc") % 5 =!= 0), "_y", lrCols, iters = 40, lr = 4.0)
    Classify.logisticScore(feats.filter(col("doc") % 5 === 0), "doc", lrCols, wu)
      .join(feats.select(col("doc"), col("_y").cast("long").as("label")), "doc")
  }

  /** CCNet/GPT-3-style logistic-regression quality classifier
    * (Classify.logisticTrain/logisticScore): 40 full-batch GD
    * iterations over the three oracled quality features (rounded
    * stopword ratio, mean word length, alpha ratio — centered and
    * ×10-scaled with fixed literals), label = the
    * quality-score median split (a learnable reference-like proxy;
    * the trained separator reaches ~90% train accuracy) —
    * training replayed bit-for-bit by the unrolled logisticSql
    * oracle: micro-unit weights, per-term floor(r·x·1e6+0.5)
    * gradient quantization, exact long sums, collect-as-literal
    * weight re-entry per iteration. Output: per-doc integer margin,
    * once-rounded sigmoid score, and the margin-sign keep verdict.
    */
  val qualityLr: Q = (s, dir) => {
    val feats = lrFeatures(s, dir)
    val wu = Classify.logisticTrain(feats, "_y", lrCols, iters = 40, lr = 4.0)
    Classify.logisticScore(feats, "doc", lrCols, wu)
      .join(feats.select(col("doc"), col("_y").cast("long").as("label")), "doc")
      .select(col("doc"), col("label"), col("margin_micro"), col("score"), col("keep"))
      .orderBy("doc")
  }

  /** The holdout twin of [[qualityLr]] (the nbTrainApply precedent):
    * train on the doc_id % 5 != 0 eighty percent, score EVERYBODY,
    * flag the held-out fifth — the honest generalization artifact
    * next to the train-accuracy capstone. Same bit-exact GD; the
    * oracle trains on the filtered CTE and scores the full one.
    */
  val qualityLrHoldout: Q = (s, dir) => {
    val feats = lrFeatures(s, dir)
    val wu = Classify.logisticTrain(
      feats.filter(col("doc") % 5 =!= 0), "_y", lrCols, iters = 40, lr = 4.0)
    Classify.logisticScore(feats, "doc", lrCols, wu)
      .join(feats.select(col("doc"), col("_y").cast("long").as("label")), "doc")
      .select(col("doc"), col("label"), col("margin_micro"), col("score"), col("keep"),
        (col("doc") % 5 === 0).as("holdout"))
      .orderBy("doc")
  }

  /** The shared LR feature SQL (label + centered ×10 features), the
    * single source for the qualityLr / holdout / calibration oracles.
    */
  private def lrFeatsSql(where: String): String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |    CAST(round(stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.3 + alpha * 0.3, 6) >= 0.405 AS DOUBLE) AS _y,
       |    (round(stop_ratio, 6) - 0.06) * 10.0 AS _x0,
       |    (least(round(awl, 6) / 10.0, 1.0) - 0.45) * 10.0 AS _x1,
       |    (round(alpha, 6) - 0.82) * 10.0 AS _x2
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) AS stop_ratio,
       |      CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) AS awl,
       |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha
       |    FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |          FROM documents))$where""".stripMargin
  }

  val qualityLrSql: String =
    Classify.logisticSql(lrFeatsSql(""), "doc_id", d = 3, iters = 40, lr = 4.0)

  private def lrHoldoutInnerSql: String =
    Classify.logisticSql(
      lrFeatsSql(" WHERE doc_id % 5 <> 0"), "doc_id", d = 3, iters = 40, lr = 4.0,
      scoreFeatsSql = Some(lrFeatsSql("")))

  val qualityLrHoldoutSql: String =
    s"""SELECT q.*, doc % 5 = 0 AS holdout FROM (
       |$lrHoldoutInnerSql
       |) q ORDER BY doc""".stripMargin

  /** Reliability bins (Classify.calibrationBins) of the HELD-OUT fifth
    * under the holdout-trained LR — the honest "is a 0.9 really a
    * 0.9" diagram: 8 equal-width score bins, exact counts, decimal
    * confidence sums, one division per output rate. ECE is
    * Σ n·abs_gap / Σ n over these rows.
    */
  val qualityLrCalibration: Q = (s, dir) =>
    Classify.calibrationBins(lrHeldOut(s, dir), "label", "score", bins = 8).orderBy("bin")

  /** Isotonic calibration (Classify.isotonicCalibration) of the same
    * held-out LR scores: the PAV-fitted monotone probability curve
    * over the 8 reliability bins — where q_quality_lr_calibration
    * reports the raw (possibly zigzag) per-bin rates, this fits the
    * nondecreasing mapping a deployed calibrator would use. Minimax
    * form so the oracle's join-lattice replay is bit-identical.
    */
  val qualityLrIsotonic: Q = (s, dir) =>
    Classify.isotonicCalibration(lrHeldOut(s, dir), "label", "score", bins = 8).orderBy("bin")

  val qualityLrIsotonicSql: String =
    Classify.isotonicCalibrationSql(
      s"SELECT label, score FROM ($lrHoldoutInnerSql) WHERE doc % 5 = 0", bins = 8)

  /** Per-source isotonic calibration (Classify.isotonicCalibrationByKey)
    * of the same held-out LR scores: the monotone curve PER document
    * source — how a deployed filter is audited per domain (a global
    * curve can average away one source's miscalibration). sources ×
    * 8 bins stays far under the 4096-cell driver guard; the oracle is
    * the key-partitioned join-lattice over the same holdout unroll.
    */
  val qualityLrIsotonicBySrc: Q = (s, dir) => {
    val held = lrHeldOut(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id").as("doc"), col("source")), "doc")
    Classify.isotonicCalibrationByKey(held, "source", "label", "score", bins = 8)
  }

  val qualityLrIsotonicBySrcSql: String =
    Classify.isotonicCalibrationByKeySql(
      s"""SELECT d.source AS k, q.label, q.score
         |FROM ($lrHoldoutInnerSql) q JOIN documents d ON d.doc_id = q.doc
         |WHERE q.doc % 5 = 0""".stripMargin, bins = 8)

  /** ROC-AUC (Classify.auc) of the HELD-OUT fifth under the
    * holdout-trained LR — the threshold-free companion to the
    * calibration bins, ranked on the INTEGER margin (monotone with
    * the sigmoid, integer group keys): Mann–Whitney with tie-averaged
    * ranks kept integer, HUGEINT ≡ DECIMAL(38,0), one closing
    * division.
    */
  val qualityLrAuc: Q = (s, dir) =>
    Classify.auc(lrHeldOut(s, dir), "label", "margin_micro")

  val qualityLrAucSql: String =
    Classify.aucSql(
      s"SELECT * FROM ($lrHoldoutInnerSql) WHERE doc % 5 = 0",
      "label", "margin_micro")

  val qualityLrCalibrationSql: String =
    s"""WITH sc AS MATERIALIZED (
       |  SELECT * FROM ($lrHoldoutInnerSql) WHERE doc % 5 = 0),
       |b AS (SELECT LEAST(CAST(FLOOR(score * 8.0) AS BIGINT), 7) AS bin, label AS y,
       |        CAST(score AS DECIMAL(18,6)) AS sq FROM sc),
       |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       |          sum(sq) AS conf_sum FROM b GROUP BY 1)
       |SELECT bin, n, n_pos,
       |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
       |  CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE) AS confidence,
       |  ABS(CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE) -
       |      CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS abs_gap
       |FROM agg ORDER BY bin""".stripMargin

  /** Gopher-style hard quality gate (TextAnalysis.qualityRules): rule
    * metrics + the conjunction pass flag. The oracle replays the word
    * stats with list ops and the top-bigram fraction with the same
    * 60-bit pair-hash identity the Spark side aggregates on.
    */
  val qualityRules: Q = (s, dir) =>
    TextAnalysis.qualityRules(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val qualityRulesSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH wt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws,
       |    string_split(text, chr(10)) AS lns
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    CASE WHEN len(ws) > 0 THEN
       |      CAST(list_sum(list_transform(ws, mw -> length(mw))) AS DOUBLE) / len(ws) END AS mwl,
       |    CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS BIGINT) AS stop_hits,
       |    CASE WHEN len(ws) > 0 THEN
       |      CAST(len(list_filter(ws, aw -> regexp_matches(aw, '[A-Za-z]'))) AS DOUBLE) / len(ws)
       |      END AS alpha_frac,
       |    CASE WHEN len(ws) > 0 THEN
       |      CAST(len(regexp_extract_all(text, '${TextAnalysis.SymbolPattern}')) AS DOUBLE) / len(ws)
       |      END AS sym_ratio,
       |    CAST(len(list_filter(lns, bl -> substring(bl, 1, 2) IN ('- ', '* '))) AS DOUBLE)
       |      / len(lns) AS bullet_frac,
       |    CAST(len(list_filter(lns, el -> ends_with(el, '...'))) AS DOUBLE)
       |      / len(lns) AS ellipsis_frac
       |  FROM wt),
       |bg AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 2 THEN [text]
       |    ELSE list_transform(range(1, len(ws)),
       |      bi -> ws[CAST(bi AS INT)] || ' ' || ws[CAST(bi+1 AS INT)]) END AS bgs
       |  FROM wt),
       |bh AS (
       |  SELECT doc_id, unnest(list_transform(bgs,
       |    wd -> ${strhashSql("wd || '#'", "g")} * $P + ${strhashSql("wd", "h")})) AS h
       |  FROM bg),
       |bc AS (SELECT doc_id, h, count(*) AS c FROM bh GROUP BY 1, 2),
       |tb AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bigrams
       |       FROM bc GROUP BY 1)
       |SELECT m.doc_id AS doc, n_words, round(mwl, 6) AS mean_word_len, stop_hits,
       |  round(CAST(top_c AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
       |  round(sym_ratio, 6) AS symbol_word_ratio,
       |  round(ellipsis_frac, 6) AS ellipsis_line_frac,
       |  round(bullet_frac, 6) AS bullet_line_frac,
       |  round(alpha_frac, 6) AS alpha_word_frac,
       |  (n_words >= 20 AND n_words <= 100000
       |    AND coalesce(mwl >= 2.0 AND mwl <= 12.0, false) AND stop_hits >= 2
       |    AND coalesce(CAST(top_c AS DOUBLE) / n_bigrams <= 0.2, true)
       |    AND coalesce(sym_ratio <= 0.1, true)
       |    AND ellipsis_frac <= 0.3 AND bullet_frac <= 0.9
       |    AND coalesce(alpha_frac >= 0.8, false)) AS pass
       |FROM m LEFT JOIN tb ON tb.doc_id = m.doc_id ORDER BY doc""".stripMargin
  }

  /** Cohen's kappa (Classify.agreementKappa) between the two quality
    * filters the corpus already runs — the Gopher-rule hard gate
    * (qualityRules.pass) and the blended-score threshold
    * (quality_score >= 0.405) — the chance-corrected "do my filter
    * variants actually agree" audit. The oracle NESTS the two proven
    * oracles (the release-gate composition pattern) and replays the
    * exact contingency → marginals → one-division-each po/pe/kappa
    * sequence.
    */
  val qualityKappa: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val a = TextAnalysis.qualityRules(docs, "doc_id", "text")
      .select(col("doc"), col("pass").as("ra"))
    val b = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc"), (col("quality_score") >= 0.405).as("rb"))
    Classify.agreementKappa(a.join(b, "doc"), "ra", "rb")
  }

  val qualityKappaSql: String =
    s"""WITH qr AS MATERIALIZED ($qualityRulesSql),
       |tq AS MATERIALIZED ($textQualitySql),
       |j AS (SELECT CAST(qr.pass AS VARCHAR) AS a,
       |        CAST(tq.quality_score >= 0.405 AS VARCHAR) AS b
       |      FROM qr JOIN tq ON qr.doc = tq.doc),
       |cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
       |          CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree FROM cont),
       |ma AS (SELECT a AS k, CAST(sum(n) AS BIGINT) AS na FROM cont GROUP BY 1),
       |mb AS (SELECT b AS k, CAST(sum(n) AS BIGINT) AS nb FROM cont GROUP BY 1),
       |cr AS (SELECT CAST(COALESCE(sum(na * nb), 0) AS BIGINT) AS xp
       |       FROM ma JOIN mb USING (k))
       |SELECT n, agree,
       |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |  CAST(xp AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
       |  CASE WHEN CAST(xp AS DOUBLE) / CAST(n * n AS DOUBLE) = 1.0 THEN NULL
       |    ELSE (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
       |            - CAST(xp AS DOUBLE) / CAST(n * n AS DOUBLE))
       |         / (1.0 - CAST(xp AS DOUBLE) / CAST(n * n AS DOUBLE)) END AS kappa
       |FROM tot, cr""".stripMargin

  /** PII redaction (TextAnalysis.piiRedact). The corpus carries no PII,
    * so the query plants deterministic contact lines (email + ip +
    * phone derived from doc_id) into every 3rd doc before scrubbing —
    * the oracle must then agree with Spark on REAL matches and on the
    * rewritten text, not just on zeros.
    */
  val piiRedact: Q = (s, dir) => {
    val seeded = Tables.documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.piiRedact(seeded, "doc_id", "text").orderBy("doc")
  }

  val piiRedactSql: String = {
    val (em, ip, ph) = (TextAnalysis.EmailPattern, TextAnalysis.Ipv4Pattern, TextAnalysis.PhonePattern)
    s"""WITH seeded AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN
       |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
       |        || CAST(doc_id % 256 AS VARCHAR) || '.7 or 555-'
       |        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234'
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id AS doc,
       |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS redacted_text
       |FROM seeded ORDER BY doc""".stripMargin
  }

  /** Luhn-validated credit-card PII (TextAnalysis.ccDetect): docs
    * seeded with a checksum-VALID test card (4111…1111, doc_id % 5 = 0)
    * or a checksum-INVALID near-miss (…1112, doc_id % 5 = 3) — both
    * count as candidates, only the valid one as a card; every 16-digit
    * window redacts. The oracle replays the context-group extraction,
    * the 16-step Luhn fold, and the rewrite.
    */
  val ccDetectQ: Q = (s, dir) => {
    val seeded = Tables.documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" card 4111111111111111 ok")))
        .when(col("doc_id") % 5 === 3, concat(col("text"), lit(" card 4111111111111112 ok")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.ccDetect(seeded, "doc_id", "text").orderBy("doc")
  }

  val ccDetectSql: String = {
    val (cp, rp) = (TextAnalysis.CcCandidatePattern, TextAnalysis.CcRunPattern)
    val dig = "(ascii(substring(c, CAST(li AS INT), 1)) - 48)"
    val luhn =
      s"list_reduce(list_prepend(0, list_transform(range(1, 17), li -> " +
        s"CASE WHEN li % 2 = 1 THEN CASE WHEN $dig * 2 > 9 THEN $dig * 2 - 9 " +
        s"ELSE $dig * 2 END ELSE $dig END)), (la, lx) -> la + lx) % 10 = 0"
    s"""WITH seeded AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' card 4111111111111111 ok'
       |         WHEN doc_id % 5 = 3 THEN text || ' card 4111111111111112 ok'
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id AS doc,
       |  CAST(len(regexp_extract_all(text, '$cp', 2)) AS BIGINT) AS n_cc_candidates,
       |  CAST(len(list_filter(regexp_extract_all(text, '$cp', 2), c -> $luhn))
       |    AS BIGINT) AS n_cc_valid,
       |  regexp_replace(text, '$rp', '<CC>', 'g') AS redacted_text
       |FROM seeded ORDER BY doc""".stripMargin
  }

  /** Release-gate capstone: the four governance families composed into
    * ONE pre-publish report — data contracts (Profile.expect),
    * k-anonymity suppression pressure (Profile.kAnonymize), Luhn-valid
    * card PII (TextAnalysis.ccDetect) and robust outliers
    * (Sketches.robustOutliers) — each reduced to (gate, n_flagged,
    * pass). Composes the REGISTERED queries, so every branch is an
    * already-adjudicated operator; the oracle nests the four proven
    * oracles the same way.
    */
  val releaseGate: Q = (s, dir) => {
    val exp = ParityQueries.expectationsQ(s, dir)
      .select(concat(lit("contract:"), col("rule")).as("gate"),
        col("n_violations").as("n_flagged"), col("pass"))
    val kan = ParityQueries.kAnonymityQ(s, dir).filter(col("suppressed"))
      .agg(count(lit(1)).as("n_flagged"))
      .select(lit("privacy:k_anonymity").as("gate"), col("n_flagged"),
        (col("n_flagged") === 0L).as("pass"))
    val cc = ccDetectQ(s, dir)
      .agg(sum(col("n_cc_valid")).as("n_flagged"))
      .select(lit("privacy:cc_numbers").as("gate"), col("n_flagged"),
        (col("n_flagged") === 0L).as("pass"))
    val outl = robustOutliersQ(s, dir)
      .agg(count(lit(1)).as("n_flagged"))
      .select(lit("quality:outliers").as("gate"), col("n_flagged"),
        (col("n_flagged") === 0L).as("pass"))
    exp.unionAll(kan).unionAll(cc).unionAll(outl).orderBy("gate")
  }

  lazy val releaseGateSql: String =
    s"""SELECT 'contract:' || rule AS gate, n_violations AS n_flagged, pass
       |FROM (${ParityQueries.expectationsSql})
       |UNION ALL SELECT 'privacy:k_anonymity', count(*), count(*) = 0
       |FROM (${ParityQueries.kAnonymitySql}) WHERE suppressed
       |UNION ALL SELECT 'privacy:cc_numbers', CAST(sum(n_cc_valid) AS BIGINT),
       |  CAST(sum(n_cc_valid) AS BIGINT) = 0
       |FROM ($ccDetectSql)
       |UNION ALL SELECT 'quality:outliers', count(*), count(*) = 0
       |FROM ($robustOutliersSql)
       |ORDER BY gate""".stripMargin

  /** Long-doc chunking (TextAnalysis.chunkDocs, 30-word windows): the
    * C4-style length normalizer — chunk boundaries, sizes and the
    * re-joined chunk text all oracle-exact.
    */
  val chunkDocs: Q = (s, dir) =>
    TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text", maxTokens = 30)
      .orderBy("doc", "chunk_id")

  val chunkDocsSql: String =
    """WITH wt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
      |  FROM documents),
      |n AS (SELECT doc_id, ws,
      |    greatest(CAST(ceil(CAST(len(ws) AS DOUBLE) / 30) AS BIGINT), 1) AS n_chunks
      |  FROM wt),
      |c AS (SELECT doc_id, ws, n_chunks, unnest(range(0, n_chunks)) AS chunk_id FROM n)
      |SELECT doc_id AS doc, chunk_id, n_chunks,
      |  CAST(len(list_slice(ws, CAST(chunk_id*30+1 AS INT), CAST(chunk_id*30+30 AS INT))) AS BIGINT)
      |    AS chunk_tokens,
      |  array_to_string(list_slice(ws, CAST(chunk_id*30+1 AS INT), CAST(chunk_id*30+30 AS INT)), ' ')
      |    AS chunk_text
      |FROM c ORDER BY doc, chunk_id""".stripMargin

  val textRepetition: Q = (s, dir) =>
    TextAnalysis.repetition(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textRepetitionSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |wc AS (
       |  SELECT doc_id, w, count(*) AS c
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM wt) GROUP BY doc_id, w)
       |SELECT doc_id AS doc, CAST(sum(c) AS BIGINT) AS n_words,
       |  count(*) AS n_distinct,
       |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS distinct_ratio,
       |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS top_word_ratio
       |FROM wc GROUP BY doc_id ORDER BY doc""".stripMargin

  /** Train/eval decontamination: docs with doc_id % 50 == 0 play the
    * held-out benchmark; every other doc reports what fraction of its
    * shingles leak into it (Dedup.contamination — broadcast eval set).
    */
  val decontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.contamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text")
      .select(col("doc"), col("n_shingles"), col("eval_hits"),
        round(col("contamination"), 6).as("contamination"))
      .orderBy("doc")
  }

  val decontaminateSql: String =
    s"""WITH $xsCte,
       |tr AS (SELECT doc_id, unnest(xh) AS x FROM xs WHERE doc_id % 50 <> 0),
       |ev AS (SELECT DISTINCT x FROM (SELECT unnest(xh) AS x FROM xs WHERE doc_id % 50 = 0)),
       |sizes AS (SELECT doc_id, len(xh) AS n FROM xs WHERE doc_id % 50 <> 0),
       |hits AS (SELECT t.doc_id, count(*) AS h FROM tr t JOIN ev e ON t.x = e.x GROUP BY t.doc_id)
       |SELECT s.doc_id AS doc, s.n AS n_shingles,
       |  COALESCE(h.h, 0) AS eval_hits,
       |  round(CAST(COALESCE(h.h, 0) AS DOUBLE) / s.n, 6) AS contamination
       |FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id ORDER BY doc""".stripMargin

  /** Deterministic per-source quota sampling (Shedding.quotaSample on
    * TopKPerKey bounded heaps): 5 docs per source by cross-engine pick
    * hash.
    */
  val sampleQuota: Q = (s, dir) =>
    graft.operators.Shedding.quotaSample(s, Tables.documents(s, dir), "source", "doc_id", 5)
      .select(col("source"), col("doc_id"), col("pick_h"))
      .orderBy("source", "pick_h", "doc_id")

  val sampleQuotaSql: String =
    s"""SELECT source, doc_id, pick_h FROM (
       |  SELECT source, doc_id, ${strhashSql("CAST(doc_id AS VARCHAR)", "q")} AS pick_h,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${strhashSql("CAST(doc_id AS VARCHAR)", "r")}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= 5 ORDER BY source, pick_h, doc_id""".stripMargin

  /** Proportional stratified sampling (Shedding.sampleFractions): keep
    * ~50% of src0, ~25% of src1, ~10% of everything else, selected by
    * the deterministic id-hash threshold both engines compute.
    */
  val sampleStratified: Q = (s, dir) =>
    graft.operators.Shedding.sampleFractions(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", Map("src0" -> 0.5, "src1" -> 0.25), defaultFraction = 0.1)
      .orderBy("doc_id")

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    ${strhashSql("'smp:' || CAST(doc_id AS VARCHAR)", "v")} AS hv
       |  FROM documents)
       |WHERE (hv * hv) % 1000000007 % 1000000 <
       |  CASE WHEN source = 'src0' THEN 500000
       |       WHEN source = 'src1' THEN 250000 ELSE 100000 END
       |ORDER BY doc_id""".stripMargin

  /** Weight-proportional sampling without replacement
    * (Shedding.weightedSample, Efraimidis–Spirakis A-Res): 8 docs per
    * source drawn proportional to document length. The oracle replays
    * the exact key — ln of the squared-hash uniform over the length
    * weight — with a window rank; the selected SET matches because the
    * ranking is deterministic and the key itself never leaves the plan.
    */
  val sampleWeighted: Q = (s, dir) =>
    graft.operators.Shedding.weightedSample(
        s, Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", greatest(length(col("text")), lit(1)), k = 8)
      .select(col("source"), col("doc_id"), length(col("text")).as("doc_len"))
      .orderBy("source", "doc_id")

  val sampleWeightedSql: String =
    s"""SELECT source, doc_id, doc_len FROM (
       |  SELECT source, doc_id, doc_len,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ln(u) / w DESC, doc_id) AS rk
       |  FROM (
       |    SELECT source, doc_id, length(text) AS doc_len,
       |      CAST(GREATEST(length(text), 1) AS DOUBLE) AS w,
       |      CAST((hv * hv) % 1000000007 + 1 AS DOUBLE) / 1000000008.0 AS u
       |    FROM (SELECT source, doc_id, text,
       |            ${strhashSql("'wsmp:' || CAST(doc_id AS VARCHAR)", "w")} AS hv
       |          FROM documents)))
       |WHERE rk <= 8 ORDER BY source, doc_id""".stripMargin

  /** Concat-and-chop packing of each source's docs into 256-token
    * training sequences (TextAnalysis.packSequences).
    */
  val packSequences: Q = (s, dir) =>
    TextAnalysis.packSequences(
        Tables.documents(s, dir), "doc_id", "source",
        size(TextOps.words(col("text"))), budget = 256)
      .orderBy("grp", "doc")

  val packSequencesSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS tokens
       |  FROM documents),
       |o AS (
       |  SELECT source, doc_id, tokens,
       |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM wt)
       |SELECT source AS grp, doc_id AS doc, tokens, end_off - tokens AS start_off,
       |  (end_off - tokens) // 256 AS first_seq, (end_off - 1) // 256 AS last_seq
       |FROM o ORDER BY grp, doc""".stripMargin

  /** ROUGE-2 lead coverage (TextAnalysis.rougeN): each document's
    * 40-word lead graded as an extractive "summary" against its own
    * full text — the generation-eval metric over clipped bigram
    * overlap, exact integer counts, single-division P/R/F1. The
    * oracle replays both gram multisets, the hashed
    * (id, strhash(gram), length(gram)) grouping, the full-outer clip
    * join, and the divisions (lead re-tokenization is the identity on
    * sliced word arrays — the chunkDocs precedent).
    */
  val rougeLead: Q = (s, dir) => {
    val w = TextOps.words(col("text"))
    val pairs = Tables.documents(s, dir).select(col("doc_id"),
      concat_ws(" ", slice(w, 1, 40)).as("lead"), col("text"))
    TextAnalysis.rougeN(pairs, "doc_id", "lead", "text", n = 2)
      .orderBy("id")
  }

  val rougeLeadSql: String =
    s"""WITH wt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
      |  FROM documents),
      |sides AS (SELECT doc_id, list_slice(ws, 1, 40) AS cw, ws AS rw FROM wt),
      |cc AS (
      |  SELECT doc_id, ${strhashSql("gram", "g")} AS gh, length(gram) AS gl,
      |    count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(cw)),
      |      gi -> cw[CAST(gi AS INT)] || ' ' || cw[CAST(gi+1 AS INT)])) AS gram
      |    FROM sides) GROUP BY 1, 2, 3),
      |rc AS (
      |  SELECT doc_id, ${strhashSql("gram", "g")} AS gh, length(gram) AS gl,
      |    count(*) AS r FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(rw)),
      |      gi -> rw[CAST(gi AS INT)] || ' ' || rw[CAST(gi+1 AS INT)])) AS gram
      |    FROM sides) GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(least(COALESCE(c, 0), COALESCE(r, 0))) AS BIGINT) AS overlap,
      |    CAST(sum(COALESCE(c, 0)) AS BIGINT) AS cand_grams,
      |    CAST(sum(COALESCE(r, 0)) AS BIGINT) AS ref_grams
      |  FROM cc FULL JOIN rc USING (doc_id, gh, gl) GROUP BY 1)
      |SELECT wt.doc_id AS id,
      |  COALESCE(overlap, 0) AS overlap,
      |  COALESCE(cand_grams, 0) AS cand_grams,
      |  COALESCE(ref_grams, 0) AS ref_grams,
      |  CASE WHEN COALESCE(cand_grams, 0) > 0
      |    THEN CAST(overlap AS DOUBLE) / cand_grams END AS "precision",
      |  CASE WHEN COALESCE(ref_grams, 0) > 0
      |    THEN CAST(overlap AS DOUBLE) / ref_grams END AS recall,
      |  CASE WHEN COALESCE(cand_grams, 0) + COALESCE(ref_grams, 0) > 0
      |    THEN CAST(overlap * 2 AS DOUBLE) / (cand_grams + ref_grams) END AS f1
      |FROM wt LEFT JOIN agg USING (doc_id) ORDER BY id""".stripMargin

  val textTokens: Q = (s, dir) =>
    TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textTokensSql: String =
    s"""SELECT doc_id AS doc,
       |  len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS ws_tokens,
       |  len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS bpe_tokens,
       |  round(CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')), 6) AS chars_per_token
       |FROM documents ORDER BY doc""".stripMargin

  val textFingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val textFingerprintSql: String = {
    val g = TextOps.FpGram
    s"""WITH grams AS (
       |  SELECT doc_id, CASE WHEN length(text) < $g THEN [text]
       |    ELSE list_transform(range(1, length(text)-${g - 2}), gi -> substring(text, CAST(gi AS INT), $g)) END AS gs
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id, list_sort(list_distinct(list_filter(
       |    list_transform(gs, gv -> ${strhashSql("gv", "h")}), fh -> fh % ${TextOps.FpMod} = 0))) AS fp
       |  FROM grams)
       |SELECT doc_id AS doc, len(fp) AS n_fp,
       |  coalesce(fp[1], -1) AS fp_min, coalesce(fp[-1], -1) AS fp_max
       |FROM fp ORDER BY doc""".stripMargin
  }

  /** n-gram Jaccard with the documented skew mitigation: shingles in
    * more than 20 docs are dropped before the self-join (ubiquitous
    * shingles cost m² join rows each). Oracle mirrors the cap.
    */
  val dedupJaccardCapped: Q = (s, dir) =>
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        minJaccard = 0.8, maxShingleDocFreq = 20)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  val dedupJaccardCappedSql: String =
    s"""WITH $xsCte,
       |exall AS (SELECT doc_id, unnest(xh) AS x FROM xs),
       |freq AS (SELECT x FROM (SELECT x, count(*) AS df FROM exall GROUP BY x) WHERE df <= 20),
       |ex AS (SELECT doc_id, exall.x AS x FROM exall JOIN freq USING (x)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** End-to-end curation pipeline — the composite 100 TB use case:
    * quality-filter → language-filter → exact-dedup to canonical docs →
    * per-source corpus stats. Exercises operator COMPOSITION under one
    * oracle.
    */
  val curationPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc"), col("quality_score"))
    val l = TextAnalysis.langId(docs, "doc_id", "text")
      .select(col("doc"), col("pred_lang"))
    val canon = Dedup.exact(docs, "doc_id", "text")
      .select(col("canonical_id").as("doc"))
    val t = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .select(col("doc"), col("bpe_tokens"))
    docs.select(col("doc_id").as("doc"), col("source"))
      .join(canon, "doc")
      .join(q, "doc").filter(col("quality_score") >= 0.3)
      .join(l, "doc").filter(col("pred_lang") === "en")
      .join(t, "doc")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bpe_tokens")).as("total_tokens"),
        sum(col("quality_score").cast("decimal(18,6)")).cast("double").as("sum_quality")
      )
      .orderBy("source") // avg = sum_quality / n_docs; not emitted (a
      // rounded division can land exactly on a .5 ulp boundary where
      // engines' rounding of the same double differs)
  }

  val curationPipelineSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    val en = TextAnalysis.LangMarkers.head._2.map(m => s"'$m'").mkString("[", ", ", "]")
    val others = TextAnalysis.LangMarkers.tail.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(ws, w$lang -> list_contains($lst, w$lang)))"
    }
    s"""WITH wt AS (
       |  SELECT doc_id, text, source, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    round(CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) * 0.4
       |      + least(CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) / 10.0, 1.0) * 0.3
       |      + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3, 6) AS quality_score
       |  FROM wt),
       |l AS (
       |  SELECT doc_id, len(list_filter(ws, we -> list_contains($en, we))) AS s_en,
       |    ${others.zipWithIndex.map { case (e, i) => s"$e AS s_o$i" }.mkString(", ")}
       |  FROM wt),
       |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |t AS (
       |  SELECT doc_id, len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS bpe_tokens
       |  FROM documents)
       |SELECT d.source, count(*) AS n_docs, CAST(sum(t.bpe_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(CAST(q.quality_score AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
       |FROM documents d
       |JOIN canon USING (doc_id)
       |JOIN q ON q.doc_id = d.doc_id
       |JOIN l ON l.doc_id = d.doc_id
       |JOIN t ON t.doc_id = d.doc_id
       |WHERE q.quality_score >= 0.3
       |  AND l.s_en > 0 AND ${others.indices.map(i => s"l.s_en >= l.s_o$i").mkString(" AND ")}
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** Top-5 terms per language across the corpus — word explode + count,
    * ranked by the custom bounded-heap TopKPerKey operator (ties by
    * term). The corpus-stats shape: explode shuffle keyed by (lang,
    * word) with map-side combine, then k rows per group survive.
    */
  val topTerms: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val counts = d
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("n"))
    val top = graft.plans.TopKPerKey(s, counts, Seq("lang"),
      Seq("n" -> true, "term" -> false), 5)
    top.select(
        col("lang"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("n").desc, col("term")))
          .cast("long").as("rank"),
        col("term"), col("n"))
      .orderBy("lang", "rank")
  }

  val topTermsSql: String =
    """WITH c AS (
      |  SELECT lang, wd AS term, count(*) AS n
      |  FROM (SELECT lang, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS wd
      |        FROM documents)
      |  GROUP BY lang, wd)
      |SELECT lang, rank, term, n FROM (
      |  SELECT lang, term, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
      |  FROM c)
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------- relevance

  /** Top-3 most distinctive terms per doc by smoothed TF-IDF
    * (Relevance.tfIdf). Scores are DECIMAL(18,6)-quantized before
    * ranking so cross-engine ordering never hinges on sub-ulp double
    * differences; top-k per doc via the bounded-heap TopKPerKey.
    */
  val tfidfTerms: Q = (s, dir) =>
    graft.llm.Relevance.tfIdf(s, Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc", "rank")

  val tfidfTermsSql: String =
    """WITH tf AS (
      |  SELECT doc_id AS doc, wd AS term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS wd
      |        FROM documents)
      |  GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nq AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc, tf.term AS term, tf, df,
      |    CAST(round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) + 1.0), 6)
      |      AS DECIMAL(18,6)) AS tfidf_d
      |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nq)
      |SELECT doc, rank, term, tf, df, CAST(tfidf_d AS DOUBLE) AS tfidf FROM (
      |  SELECT doc, term, tf, df, tfidf_d,
      |    row_number() OVER (PARTITION BY doc ORDER BY tfidf_d DESC, term) AS rank
      |  FROM scored)
      |WHERE rank <= 3 ORDER BY doc, rank""".stripMargin

  /** BM25 ranked retrieval (Relevance.bm25) for a fixed 3-term query,
    * top-10 docs. Per-term scores are DECIMAL-quantized before the
    * per-doc sum, so the aggregate is exact decimal arithmetic —
    * order-independent and engine-identical.
    */
  val Bm25Terms: Seq[String] = Seq("merge", "vector", "window")

  val bm25Search: Q = (s, dir) =>
    graft.llm.Relevance.bm25(s, Tables.documents(s, dir), "doc_id", "text", Bm25Terms, k = 10)

  /** Shared BM25 oracle builder (k1 = 1.2, b = 0.75): used verbatim by
    * both the one-job q_bm25_search and the persisted-index
    * q_text_index_search — the index lifecycle must reproduce the
    * direct computation exactly, so they differ only in query terms.
    */
  private def bm25Sql(queryTerms: Seq[String], k: Int): String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id AS doc, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |dlq AS (SELECT doc, len(ws) AS dl FROM base),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dlq),
       |tf AS (
       |  SELECT doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, unnest(ws) AS wd FROM base) u
       |  WHERE wd IN ($terms)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc, tf, df, dl,
       |    CAST(round(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |        (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
       |        (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
       |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
       |      6) AS DECIMAL(18,6)) AS s_d
       |  FROM tf JOIN dfq USING (term) JOIN dlq USING (doc) CROSS JOIN stats)
       |SELECT rank, doc, n_terms_hit, score FROM (
       |  SELECT doc, count(*) AS n_terms_hit, CAST(sum(s_d) AS DOUBLE) AS score,
       |    row_number() OVER (ORDER BY sum(s_d) DESC, doc) AS rank
       |  FROM scored GROUP BY doc)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  val bm25SearchSql: String = bm25Sql(Bm25Terms, 10)

  /** Query terms for the persisted-index probe — distinct from
    * [[Bm25Terms]] so the two queries exercise different buckets.
    */
  val TextIndexTerms: Seq[String] = Seq("scan", "filter", "spark")

  /** The PERSISTED inverted-index path (TextIndex.write + probe): the
    * corpus tokenizes once into term-bucket-partitioned postings with
    * doc length denormalized on, then the probe reads only the query
    * terms' buckets (driver-routed partition filter) — and must return
    * the IDENTICAL ranking as the one-job Relevance.bm25, so the oracle
    * is the shared bm25Sql over the same terms. PlanSpec pins the
    * pruned scan.
    */
  val textIndexSearch: Q = (s, dir) => {
    // ONE fixed path, overwritten per invocation (the ADVICE r6
    // anti-leak rule — Bench min-of-3 must not accumulate index trees)
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.probe(s, idx, TextIndexTerms, k = 10)
  }

  val textIndexSearchSql: String = bm25Sql(TextIndexTerms, 10)

  /** Phrase for the positional-postings probe: "fast scan" occurs
    * adjacently in ~26 docs at sf0.01 (and 28 at sf0.001) with a
    * max-occurrence tie-break — small enough to rank, common enough
    * that both SFs return rows.
    */
  val PhraseTerms: Seq[String] = Seq("fast", "scan")

  /** Exact phrase search over the PERSISTED positional index
    * (TextIndex.probePhrase): postings intersection with the
    * shift-by-slot adjacency check, bucket-pruned like
    * q_text_index_search. The oracle recomputes occurrences from the
    * raw token arrays with a DuckDB list lambda (count of starts s
    * where every ws[s+j] matches slot j) — the index path must agree
    * with the direct definition of "phrase occurs at s".
    */
  val phraseSearch: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-phrase-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.probePhrase(s, idx, PhraseTerms, k = 10)
  }

  val phraseSearchSql: String = {
    val conds = PhraseTerms.zipWithIndex
      .map { case (t, j) => s"ws[s + $j] = '$t'" }.mkString(" AND ")
    val L = PhraseTerms.length
    s"""WITH pb AS (SELECT doc_id AS doc,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws FROM documents),
       |pm AS (SELECT doc, CAST(len(list_filter(
       |    range(1, len(ws) - ${L - 2}), s -> $conds)) AS BIGINT) AS occurrences
       |  FROM pb)
       |SELECT rank, doc, occurrences FROM (
       |  SELECT doc, occurrences,
       |    row_number() OVER (ORDER BY occurrences DESC, doc) AS rank
       |  FROM pm WHERE occurrences > 0)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** Proximity phrase search (TextIndex.probeProximity): the same
    * "fast scan" query with slop = 2 — every slot may sit up to two
    * positions late, the Lucene window operating point between exact
    * phrase and bag-of-words. Shares q_phrase_search's persisted
    * positional index; the oracle recounts anchors with per-slot
    * list_contains over the slot's slop window (the list-lambda
    * recount, slices truncating safely at the document edge).
    */
  val ProximitySlop: Int = 2

  val proximitySearch: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-phrase-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.probeProximity(s, idx, PhraseTerms, k = 10, slop = ProximitySlop)
  }

  val proximitySearchSql: String = {
    val conds = PhraseTerms.zipWithIndex
      .map { case (t, j) =>
        s"list_contains(ws[s + $j : s + $j + $ProximitySlop], '$t')" }
      .mkString(" AND ")
    s"""WITH pb AS (SELECT doc_id AS doc,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws FROM documents),
       |pm AS (SELECT doc, CAST(len(list_filter(
       |    range(1, len(ws) + 1), s -> $conds)) AS BIGINT) AS occurrences
       |  FROM pb)
       |SELECT rank, doc, occurrences FROM (
       |  SELECT doc, occurrences,
       |    row_number() OVER (ORDER BY occurrences DESC, doc) AS rank
       |  FROM pm WHERE occurrences > 0)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** Batch phrase search (TextIndex.probePhraseAll): three phrases —
    * two bigrams and a degenerate single-term phrase (occurrences =
    * tf) — amortized over ONE pruned scan of the union of their term
    * buckets; per-qid rankings must equal the single-phrase probe
    * (spec-pinned), and the oracle unions the per-phrase list-lambda
    * recounts under their qids.
    */
  val PhraseBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("fast", "scan"), 2L -> Seq("slow", "filter"), 3L -> Seq("spark"))

  val phraseSearchMulti: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-phrase-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    val qRows = PhraseBatch.map { case (q, ph) => org.apache.spark.sql.Row(q, ph) }
    val queries = s.createDataFrame(
      java.util.Arrays.asList(qRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ph",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, containsNull = false),
          nullable = false))))
    graft.llm.TextIndex.probePhraseAll(s, idx, queries, "qid", "ph", k = 10)
      .orderBy("qid", "rank")
  }

  val phraseSearchMultiSql: String = {
    def one(qid: Long, ph: Seq[String]): String = {
      val conds = ph.zipWithIndex
        .map { case (t, j) => s"ws[s + $j] = '$t'" }.mkString(" AND ")
      val L = ph.length
      s"""SELECT qid, rank, doc, occurrences FROM (
         |  SELECT CAST($qid AS BIGINT) AS qid, doc, occurrences,
         |    row_number() OVER (ORDER BY occurrences DESC, doc) AS rank
         |  FROM (SELECT doc, CAST(len(list_filter(
         |      range(1, len(ws) - ${L - 2}), s -> $conds)) AS BIGINT) AS occurrences
         |    FROM pmb) WHERE occurrences > 0)
         |WHERE rank <= 10""".stripMargin
    }
    s"""WITH pmb AS MATERIALIZED (SELECT doc_id AS doc,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws FROM documents)
       |${PhraseBatch.map { case (q, ph) => one(q, ph) }.mkString("\nUNION ALL\n")}
       |ORDER BY qid, rank""".stripMargin
  }

  /** The index health report (TextIndex.describe) over a fresh
    * single-root build: the persisted stats row must equal the corpus
    * scalars recomputed from the documents table — the end-to-end
    * check that the build's tokenize→stats path wrote the truth the
    * probes will score with.
    */
  val textIndexHealth: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-health-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.describe(s, idx)
  }

  val textIndexHealthSql: String =
    """WITH th AS (SELECT 'postings' AS root, count(*) AS n_docs,
      |  CAST(sum(len(ws)) AS BIGINT) AS sum_dl,
      |  CAST(16 AS BIGINT) AS n_buckets,
      |  CAST(sum(len(list_distinct(ws))) AS BIGINT) AS n_postings,
      |  CAST(sum(len(ws)) AS BIGINT) AS pos_entries
      |FROM (SELECT list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
      |      FROM documents))
      |SELECT root, n_docs, sum_dl, n_buckets, n_postings, pos_entries,
      |  CASE WHEN n_postings + pos_entries > 0 THEN
      |    CAST(pos_entries AS DOUBLE) / CAST(n_postings + pos_entries AS DOUBLE)
      |  END AS pos_share
      |FROM th""".stripMargin

  /** Embedding second-moment sheet (Embeddings.gram): the one-pass
    * distributed half of PCA — upper-triangle exact-decimal Gram
    * entries plus first-moment rows over the 6-dp-quantized vectors,
    * the d² numbers the driver eigen step consumes. This IS the part
    * that runs at corpus scale, so it carries the oracle; the
    * driver-side power iteration is spec-covered (EmbeddingsSpec) and
    * its output re-enters as shared literals (q_embed_project shape).
    */
  val embedGram: Q = (s, dir) =>
    graft.llm.Embeddings.gram(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy("i", "j")

  val embedGramSql: String =
    graft.llm.Embeddings.gramSql("SELECT vec_id, embedding FROM embeddings", 64)

  /** Per-cohort Gram sheets (Embeddings.gramBy): the label-keyed
    * second moments — one GramSheet buffer per (task, label), the
    * per-cohort covariance feed for slice-level PCA/drift.
    */
  val embedGramBy: Q = (s, dir) =>
    graft.llm.Embeddings.gramBy(Tables.embeddings(s, dir), "label", "embedding")
      .orderBy("grp", "i", "j")

  val embedGramBySql: String =
    graft.llm.Embeddings.gramBySql(
      "SELECT label, vec_id, embedding FROM embeddings", "label", 64)

  /** Shared projection literals for q_embed_project — a fixed
    * deterministic direction (NOT data-derived: a static oracle string
    * cannot carry data-dependent eigenvectors; the eigen step is
    * spec-verified and produces literals of exactly this shape).
    */
  val ProjWeights: Seq[java.math.BigDecimal] = (1 to 64).map { i =>
    new java.math.BigDecimal((i % 7) * 0.031 - 0.093)
      .setScale(6, java.math.RoundingMode.HALF_UP)
  }
  val ProjCenter: java.math.BigDecimal =
    new java.math.BigDecimal(0).setScale(6)

  /** Exact-decimal projection of every embedding onto the shared
    * weight literals (Embeddings.project): quantize-once components,
    * exact decimal products/sums, the center constant subtracted last,
    * one final double cast — the no-model-table projection the PCA
    * component feeds at scale.
    */
  val embedProject: Q = (s, dir) =>
    graft.llm.Embeddings.project(Tables.embeddings(s, dir), "vec_id", "embedding",
        ProjWeights, ProjCenter)
      .orderBy("vid")

  val embedProjectSql: String =
    graft.llm.Embeddings.pcaProjectSql(
      "SELECT vec_id, embedding FROM embeddings", ProjWeights, ProjCenter)

  /** Embedding drift report — the capstone composing the projection
    * with the deterministic quantile sketch: per label cohort, the
    * distribution (p25/p50/p75 off the bottom-64-by-hash sample) of
    * scores along the shared component direction. The monitoring
    * query an embedding pipeline runs per ingest: a cohort whose
    * projection quantiles shift is drifting along the dominant axis.
    * Every stage is engine-replicable (fixed-point projection +
    * the quantile sample's squared-hash key), so the whole composition
    * hash-gates.
    */
  val embedDrift: Q = (s, dir) => {
    val p = graft.llm.Embeddings.project(Tables.embeddings(s, dir),
      "vec_id", "embedding", ProjWeights, ProjCenter, keep = Seq("label"))
    graft.llm.Sketches.quantiles(p, "label", "vid", col("score"),
        k = 64, qs = Seq(0.25, 0.5, 0.75))
      .orderBy("grp")
  }

  val embedDriftSql: String =
    s"""WITH scored AS (
       |  SELECT label AS grp, vec_id,
       |    ${graft.llm.Embeddings.projectExprSql(ProjWeights, ProjCenter)} AS v
       |  FROM embeddings),
       |keyed AS (SELECT grp, v, (h * h) % $P AS key FROM (
       |    SELECT grp, v, ${strhashSql("'qtl:' || CAST(vec_id AS VARCHAR)", "ed")} AS h
       |    FROM scored)),
       |dedup AS (SELECT grp, key, min(v) AS v FROM keyed GROUP BY grp, key),
       |topk AS (SELECT grp, v FROM (
       |    SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY key) AS rk FROM dedup)
       |  WHERE rk <= 64),
       |srt AS (SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v) AS vi,
       |    count(*) OVER (PARTITION BY grp) AS m
       |  FROM topk)
       |SELECT grp, CAST(max(m) AS BIGINT) AS n_sample,
       |  max(CASE WHEN vi = CAST(floor(0.25 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p25,
       |  max(CASE WHEN vi = CAST(floor(0.5 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p50,
       |  max(CASE WHEN vi = CAST(floor(0.75 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p75
       |FROM srt GROUP BY grp ORDER BY grp""".stripMargin

  /** Deterministic contrastive negatives (Selection.negativeSamples):
    * 4 negatives per anchor from a shared 32-member hash pool,
    * excluding the anchor's own label class — the reproducible
    * pair-builder for contrastive training. Both draws replay in the
    * oracle through the squared-strhash uniformizer.
    */
  val negSamples: Q = (s, dir) =>
    graft.llm.Selection.negativeSamples(Tables.embeddings(s, dir),
        "vec_id", "label", k = 4, poolSize = 32)
      .orderBy("anchor", "rank")

  val negSamplesSql: String = {
    val pk = strhashSql("'negp:' || CAST(vec_id AS VARCHAR)", "np")
    val qk = strhashSql("'negq:' || CAST(a.vec_id AS VARCHAR) || ':' || CAST(p.neg_id AS VARCHAR)", "nq")
    s"""WITH pool AS (
       |  SELECT neg_id, neg_label FROM (
       |    SELECT vec_id AS neg_id, label AS neg_label, (h * h) % $P AS pk
       |    FROM (SELECT vec_id, label, $pk AS h FROM embeddings))
       |  ORDER BY pk, neg_id LIMIT 32),
       |cand AS (
       |  SELECT anchor, neg_id, neg_label, (h2 * h2) % $P AS qk FROM (
       |    SELECT a.vec_id AS anchor, p.neg_id, p.neg_label, $qk AS h2
       |    FROM embeddings a CROSS JOIN pool p
       |    WHERE a.vec_id <> p.neg_id AND a.label IS DISTINCT FROM p.neg_label) t0)
       |SELECT anchor, rank, neg_id, neg_label FROM (
       |  SELECT anchor, neg_id, neg_label,
       |    row_number() OVER (PARTITION BY anchor ORDER BY qk, neg_id) AS rank
       |  FROM cand) WHERE rank <= 4 ORDER BY anchor, rank""".stripMargin
  }

  /** Probe terms for the count-min query: corpus-frequent, mid, and
    * absent terms — the absent one exercises pure-collision estimates.
    */
  val CmsProbes: Seq[String] = Seq("the", "merge", "vector", "window", "spark", "zzzz")

  /** Count-min point frequencies (Sketches.termFrequencies): one
    * depth×width sketch per source folded in ONE hash-aggregate (no
    * explode, no (group, term) shuffle), probed for the fixed term
    * list. Width 64 FORCES collisions, so the oracle — which rebuilds
    * every (row, bucket) counter from exact term counts through the
    * same salted strhash routing — pins the sketch arithmetic itself,
    * not just exact counts.
    */
  val cmsFreq: Q = (s, dir) =>
    graft.llm.Sketches.termFrequencies(Tables.documents(s, dir), "source", "text",
        CmsProbes, depth = 4, width = 64)
      .orderBy("grp", "term")

  val cmsFreqSql: String = {
    val d = 4
    val w = 64
    def bucketOf(e: String, v: String, r: Int) =
      s"(${strhashSql(s"'${graft.functions.CmsHash.salt(r)}' || $e", v)}) % $w"
    val bcCtes = (0 until d).map { r =>
      s"""bc$r AS (SELECT source, ${bucketOf("term", s"x$r", r)} AS b,
         |  CAST(sum(cnt) AS BIGINT) AS c FROM tc GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val probeList = CmsProbes.map(t => s"'$t'").mkString(", ")
    val ests = (0 until d).map { r =>
      s"coalesce((SELECT c FROM bc$r WHERE bc$r.source = s.source AND bc$r.b = " +
        s"${bucketOf("p.term", s"q$r", r)}), CAST(0 AS BIGINT))"
    }.mkString(",\n      ")
    s"""WITH wt AS (
       |  SELECT source, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (SELECT source, wd AS term FROM (SELECT source, unnest(ws) AS wd FROM wt)),
       |tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |probes AS (SELECT unnest([$probeList]) AS term),
       |$bcCtes
       |SELECT s.source AS grp, p.term,
       |  least(
       |      $ests) AS est
       |FROM srcs s CROSS JOIN probes p
       |ORDER BY grp, term""".stripMargin
  }

  /** ANN index health report (IvfIndex.describe — the TextIndex
    * health twin): the fresh single-root build's vector count must
    * equal the corpus truth, with no code blocks stored.
    */
  val annIvfHealth: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-ivf-health-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      idx, numCentroids = 16)
    graft.llm.IvfIndex.describe(s, idx)
  }

  val annIvfHealthSql: String =
    """SELECT 'cells' AS root, count(*) AS n_vecs,
      |  false AS has_sq8, false AS has_pq
      |FROM embeddings""".stripMargin

  /** Dirichlet query-likelihood search (Relevance.queryLikelihood):
    * the language-modeling ranking next to bm25 over the same query
    * terms — candidates score their zero-tf query terms through the
    * smoothing, which is the behavioral difference the oracle pins.
    */
  val qlSearch: Q = (s, dir) =>
    graft.llm.Relevance.queryLikelihood(s, Tables.documents(s, dir),
      "doc_id", "text", Bm25Terms, k = 10)

  val qlSearchSql: String = qlSql(Bm25Terms, 10)

  private def qlSql(queryTerms: Seq[String], k: Int): String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    val mu = new java.math.BigDecimal(2000.0).toPlainString
    s"""WITH base AS (
       |  SELECT doc_id AS doc, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |dlq AS (SELECT doc, len(ws) AS dl FROM base),
       |tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dlq),
       |tf AS (
       |  SELECT doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, unnest(ws) AS wd FROM base) u
       |  WHERE wd IN ($terms)
       |  GROUP BY 1, 2),
       |ctfq AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
       |cand AS (SELECT DISTINCT doc FROM tf),
       |dense AS (
       |  SELECT c.doc, x.term, x.ctf, COALESCE(f.tf, 0) AS tf, d.dl, tt.t
       |  FROM cand c CROSS JOIN ctfq x
       |  LEFT JOIN tf f ON f.doc = c.doc AND f.term = x.term
       |  JOIN dlq d ON d.doc = c.doc CROSS JOIN tt),
       |sc AS (SELECT doc, tf,
       |    CAST(round(ln(
       |      (CAST(tf AS DOUBLE) + CAST($mu AS DOUBLE) * CAST(ctf AS DOUBLE) / CAST(t AS DOUBLE))
       |        / (CAST(dl AS DOUBLE) + CAST($mu AS DOUBLE))), 6) AS DECIMAL(18,6)) AS s_t
       |  FROM dense)
       |SELECT rank, doc, n_terms_hit, score FROM (
       |  SELECT doc, CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_hit,
       |    CAST(sum(s_t) AS DOUBLE) AS score,
       |    row_number() OVER (ORDER BY sum(s_t) DESC, doc) AS rank
       |  FROM sc GROUP BY doc)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** Search-result snippets (Relevance.snippets): the bm25 top-10's
    * best 8-word spans — max query-term occurrences, earliest tie —
    * with start positions and hit counts, all integer-exact so the
    * hit-list → span → re-joined-text pipeline hash-gates.
    */
  val searchSnippets: Q = (s, dir) => {
    val hits = graft.llm.Relevance.bm25(s, Tables.documents(s, dir),
      "doc_id", "text", Bm25Terms, k = 10)
    graft.llm.Relevance.snippets(Tables.documents(s, dir), "doc_id", "text",
        hits, "doc", Bm25Terms, window = 8)
      .orderBy("doc")
  }

  val searchSnippetsSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH hits AS (SELECT doc FROM (${bm25Sql(Bm25Terms, 10)})),
       |base AS (
       |  SELECT doc, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents JOIN hits ON doc_id = doc),
       |sc AS (
       |  SELECT doc, ws,
       |    list_transform(range(1, greatest(len(ws) - 7, 1) + 1),
       |      si -> len(list_filter(list_slice(ws, CAST(si AS INT), CAST(si + 7 AS INT)),
       |        sw -> sw IN ($terms)))) AS scores
       |  FROM base)
       |SELECT doc, CAST(list_position(scores, list_max(scores)) AS BIGINT) AS start,
       |  CAST(scores[CAST(list_position(scores, list_max(scores)) AS INT)] AS BIGINT) AS n_hits,
       |  array_to_string(list_slice(ws,
       |    CAST(list_position(scores, list_max(scores)) AS INT),
       |    CAST(list_position(scores, list_max(scores)) + 7 AS INT)), ' ') AS snippet
       |FROM sc ORDER BY doc""".stripMargin
  }

  /** Passage retrieval — chunk the corpus into 30-word windows
    * (TextAnalysis.chunkDocs), index the CHUNKS (synthetic key
    * doc·1000 + chunk_id — fine: ≤ 4 chunks/doc on this corpus), and
    * BM25-probe at passage granularity: the RAG-style "which part of
    * which document" answer the doc-level search can't give. Chunk
    * re-tokenization is the identity on the sliced word arrays (words
    * are space-free and non-empty), so the oracle scores the slices
    * directly; the full chunk→index→probe pipeline hash-gates.
    */
  val passageSearch: Q = (s, dir) => {
    // the synthetic key assumes < 1000 chunks/doc — a longer document
    // must fail loudly, not silently collide passage ids (ADVICE r8)
    val safeChunk = when(col("chunk_id") < 1000, col("chunk_id"))
      .otherwise(raise_error(concat(
        lit("passageSearch: chunk_id exceeds the 1000-per-doc key space: "),
        col("chunk_id").cast("string"))).cast("long"))
    val chunks = TextAnalysis
      .chunkDocs(Tables.documents(s, dir), "doc_id", "text", maxTokens = 30)
      .select((col("doc") * 1000 + safeChunk).as("cid"), col("chunk_text"))
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-passage-index-q").toString
    graft.llm.TextIndex.write(chunks, "cid", "chunk_text", idx, nBuckets = 16)
    graft.llm.TextIndex.probe(s, idx, TextIndexTerms, k = 10)
      .select(col("rank"),
        expr("doc div 1000").as("doc_id"),
        pmod(col("doc"), lit(1000L)).as("chunk_id"),
        col("n_terms_hit"), col("score"))
  }

  val passageSearchSql: String = {
    val terms = TextIndexTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |nn AS (SELECT doc_id, ws,
       |    greatest(CAST(ceil(CAST(len(ws) AS DOUBLE) / 30) AS BIGINT), 1) AS n_chunks
       |  FROM wt),
       |chunks AS (
       |  SELECT doc_id * 1000 + chunk_id AS doc,
       |    list_slice(ws, CAST(chunk_id*30+1 AS INT), CAST(chunk_id*30+30 AS INT)) AS cws
       |  FROM (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_id FROM nn)),
       |dlq AS (SELECT doc, len(cws) AS dl FROM chunks),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dlq),
       |tf AS (
       |  SELECT doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, unnest(cws) AS wd FROM chunks) u
       |  WHERE wd IN ($terms)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc, tf, df, dl,
       |    CAST(round(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |        (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
       |        (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
       |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
       |      6) AS DECIMAL(18,6)) AS s_d
       |  FROM tf JOIN dfq USING (term) JOIN dlq USING (doc) CROSS JOIN stats)
       |SELECT rank, doc // 1000 AS doc_id, doc % 1000 AS chunk_id, n_terms_hit, score FROM (
       |  SELECT doc, count(*) AS n_terms_hit, CAST(sum(s_d) AS DOUBLE) AS score,
       |    row_number() OVER (ORDER BY sum(s_d) DESC, doc) AS rank
       |  FROM scored GROUP BY doc)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  /** Query-likelihood over the PERSISTED index (TextIndex.probeQl):
    * the same bucket-pruned economy as q_text_index_search with the
    * smoothed-LM scoring family — must reproduce the one-job
    * Relevance.queryLikelihood exactly, so the oracle is the shared
    * qlSql over the index's terms.
    */
  val textIndexQl: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-ql-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.probeQl(s, idx, TextIndexTerms, k = 10)
  }

  val textIndexQlSql: String = qlSql(TextIndexTerms, 10)

  /** Two-stage pseudo-relevance-feedback oracle: base bm25 ranking →
    * top fbDocs winners → their top-fbTerms expansion terms (summed
    * tf, ties lexicographic, query terms excluded) → final bm25 over
    * the union term set. Same formula text as bm25Sql; the expansion
    * terms are DATA-DEPENDENT, so the oracle computes them in SQL
    * exactly as the operator mines them from the index postings
    * (index tf ≡ corpus tokenization, pinned by q_text_index_search).
    */
  private def bm25PrfSql(
      queryTerms: Seq[String], k: Int, fbDocs: Int, fbTerms: Int): String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    def sd(tfr: String, dfr: String) =
      s"""CAST(round(
         |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST($dfr.df AS DOUBLE) + 0.5) / (CAST($dfr.df AS DOUBLE) + 0.5)) *
         |        (CAST($tfr.tf AS DOUBLE) * (1.2 + 1.0)) /
         |        (CAST($tfr.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
         |      6) AS DECIMAL(18,6))""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id AS doc, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |dlq AS (SELECT doc, len(ws) AS dl FROM base),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dlq),
       |tfall AS (
       |  SELECT doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, unnest(ws) AS wd FROM base) u GROUP BY 1, 2),
       |tf0 AS (SELECT * FROM tfall WHERE term IN ($terms)),
       |df0 AS (SELECT term, count(*) AS df FROM tf0 GROUP BY term),
       |sc0 AS (
       |  SELECT doc, ${sd("tf0", "df0")} AS s_d
       |  FROM tf0 JOIN df0 USING (term) JOIN dlq USING (doc) CROSS JOIN stats),
       |rank0 AS (SELECT doc, row_number() OVER (ORDER BY sum(s_d) DESC, doc) AS rank
       |  FROM sc0 GROUP BY doc),
       |fb AS (SELECT doc FROM rank0 WHERE rank <= $fbDocs),
       |sel AS (SELECT term FROM (
       |    SELECT t.term, CAST(sum(t.tf) AS BIGINT) AS ftf
       |    FROM tfall t JOIN fb USING (doc)
       |    WHERE t.term NOT IN ($terms)
       |    GROUP BY t.term)
       |  ORDER BY ftf DESC, term LIMIT $fbTerms),
       |qt AS (SELECT DISTINCT term FROM (
       |  SELECT unnest([$terms]) AS term UNION ALL SELECT term FROM sel)),
       |tf1 AS (SELECT tfall.* FROM tfall JOIN qt USING (term)),
       |df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY term),
       |sc1 AS (
       |  SELECT doc, ${sd("tf1", "df1")} AS s_d
       |  FROM tf1 JOIN df1 USING (term) JOIN dlq USING (doc) CROSS JOIN stats)
       |SELECT rank, doc, n_terms_hit, score FROM (
       |  SELECT doc, count(*) AS n_terms_hit, CAST(sum(s_d) AS DOUBLE) AS score,
       |    row_number() OVER (ORDER BY sum(s_d) DESC, doc) AS rank
       |  FROM sc1 GROUP BY doc)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** PRF-expanded persisted-index search (TextIndex.probeExpanded):
    * probe → mine the top-3 hits' postings for 3 expansion terms →
    * re-probe with the union bag. The whole two-stage pipeline —
    * including the data-dependent expansion — hash-gates against the
    * SQL replay.
    */
  val textIndexRm3: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-rm3-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    graft.llm.TextIndex.probeExpanded(s, idx, TextIndexTerms, k = 10,
      fbDocs = 3, fbTerms = 3)
  }

  val textIndexRm3Sql: String = bm25PrfSql(TextIndexTerms, 10, 3, 3)

  /** Query batch for the multi-query probe: term sets overlap across
    * queries (shared buckets) so the batch path exercises the
    * one-scan-per-root amortization on a realistic mixture.
    */
  val TextIndexMultiQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("scan", "filter", "spark"),
    2L -> Seq("merge", "vector", "window"),
    3L -> Seq("filter", "merge", "query"))

  /** Batch-query persisted-index probe (TextIndex.probeAll): ONE
    * pruned scan per root amortized across the whole (qid, terms)
    * batch, per-qid top-k via the bounded-heap TopKPerKey operator.
    * The oracle applies the shared per-query bm25Sql PER QID and
    * unions — the batch path must reproduce every single-query
    * ranking exactly.
    */
  val textIndexMulti: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-multi-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    // explicit-schema local relation (REPL-safe rule)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    TextIndexMultiQueries.foreach { case (q, ts) =>
      rows.add(org.apache.spark.sql.Row(q, ts))
    }
    import org.apache.spark.sql.types._
    val qdf = s.createDataFrame(rows, StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("terms", ArrayType(StringType, containsNull = false), nullable = false))))
    graft.llm.TextIndex.probeAll(s, idx, qdf, "qid", "terms", k = 10)
      .orderBy("qid", "rank")
  }

  val textIndexMultiSql: String =
    TextIndexMultiQueries.map { case (q, ts) =>
      s"SELECT CAST($q AS BIGINT) AS qid, * FROM (${bm25Sql(ts, 10)})"
    }.mkString("\nUNION ALL\n") + "\nORDER BY qid, rank"

  /** The DATA-PLANE batch probe (TextIndex.probeAllDistributed): the
    * same serving batch as q_text_index_multi but the query frame
    * never collects — only the bounded bucket-id set does — so the
    * route scales past the control-plane maxQueries bound. Result-
    * identical to probeAll by contract, so it shares the oracle
    * verbatim.
    */
  val textIndexMultiDist: Q = (s, dir) => {
    val idx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-text-index-multid-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      idx, nBuckets = 16)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    TextIndexMultiQueries.foreach { case (q, ts) =>
      rows.add(org.apache.spark.sql.Row(q, ts))
    }
    import org.apache.spark.sql.types._
    val qdf = s.createDataFrame(rows, StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("terms", ArrayType(StringType, containsNull = false), nullable = false))))
    graft.llm.TextIndex.probeAllDistributed(s, idx, qdf, "qid", "terms", k = 10)
      .orderBy("qid", "rank")
  }

  // --------------------------------------------------------- multimodal

  val mmDecode: Q = (s, dir) => {
    val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
        round(col("avg_byte"), 6).as("avg_byte"),
        col("stub_width").cast("long").as("stub_width"),
        col("stub_height").cast("long").as("stub_height"))
      .orderBy("doc_id")
  }

  val mmDecodeSql: String =
    s"""SELECT doc_id, 'text/plain' AS kind, length(text) AS n_bytes,
       |  round(CAST(list_sum(list_transform(range(1, length(text)+1),
       |    bi -> ascii(substring(text, CAST(bi AS INT), 1)))) AS DOUBLE) / length(text), 6) AS avg_byte,
       |  length(text) % 640 AS stub_width, (length(text) * 7) % 480 AS stub_height
       |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL image decode (Multimodal.decodeNetpbm): each doc's text bytes
    * become the raster of a genuine binary P5 grayscale image (16×h,
    * ASCII header + raw samples), and the typed-batch decoder parses it
    * BACK — header, dimensions, maxval, per-sample mean. The oracle
    * recomputes the expected features from the same prefix of the text
    * (ASCII corpus: byte == ascii(char)), so the round-trip through the
    * actual on-disk format is hash-gated end to end.
    */
  /** Documents as REAL binary P5 images: ASCII header + the text's
    * first h·16 chars as the 16×h raster. Height derives from CHAR
    * length to match the substr slice and the oracle's per-char ascii()
    * codes (the corpus is ASCII so chars == bytes, but sizing by
    * octet_length while slicing by characters would silently
    * desynchronize on any multi-byte character — ADVICE r5).
    */
  private def p5Media(s: org.apache.spark.sql.SparkSession, dir: String, minChars: Int): DataFrame = {
    val docs = Tables.documents(s, dir).filter(length(col("text")) >= minChars)
    val h = floor(length(col("text")).cast("double") / 16.0).cast("int")
    docs.select(
      col("doc_id"),
      lit("image/x-portable-graymap").as("kind"),
      length(col("text")).cast("int").as("n_bytes"),
      concat(
        encode(concat(lit("P5\n16 "), h.cast("string"), lit("\n255\n")), "UTF-8"),
        encode(col("text").substr(lit(1), h * 16), "UTF-8")).as("payload"))
  }

  /** Real RIFF/WAVE media: PCM16 samples derived from the text
    * (s_i = ascii(c_i) − 96 — lowercase letters positive, spaces and
    * digits negative, so sign structure exists for the zero-crossing
    * feature), serialized through Multimodal.encodeWav.
    */
  private def wavMedia(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val samples = t.map(c => (c - 96).toShort).toArray
        Multimodal.MediaRow(id, "audio/wav", 44 + 2 * samples.length,
          Multimodal.encodeWav(samples, 8000))
      }.toDF()
  }

  /** Real WAV decode (Multimodal.decodeAudio): the payloads round-trip
    * through an actual RIFF chunk walk + PCM16 validation; features
    * (duration, peak, zero crossings, RMS) are integer-exact until one
    * division + sqrt. The oracle computes the same features from the
    * sample formula directly — if the codec pair mis-encoded or
    * mis-decoded a single byte, the hashes split.
    */
  val mmAudio: Q = (s, dir) =>
    Multimodal.decodeAudio(s, wavMedia(s, dir)).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), col("zero_crossings"),
        round(col("rms"), 6).as("rms"))
      .orderBy("doc_id")

  val mmAudioSql: String =
    """WITH sm AS (SELECT doc_id, length(text) AS n,
      |    list_transform(range(1, length(text)+1),
      |      ai -> ascii(substring(text, CAST(ai AS INT), 1)) - 96) AS s
      |  FROM documents)
      |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  (n * 1000) // 8000 AS duration_ms,
      |  CAST(COALESCE(list_max(list_transform(s, px -> abs(px))), 0) AS INT) AS peak,
      |  CAST(COALESCE(list_sum(list_transform(range(2, CAST(n AS INT) + 1), zi ->
      |      CASE WHEN s[CAST(zi AS INT)] <> 0 AND s[CAST(zi - 1 AS INT)] <> 0
      |        AND ((s[CAST(zi AS INT)] < 0) <> (s[CAST(zi - 1 AS INT)] < 0))
      |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings,
      |  CASE WHEN n = 0 THEN 0.0
      |    ELSE round(sqrt(CAST(list_sum(list_transform(s, qx -> qx * qx)) AS DOUBLE)
      |      / n), 6) END AS rms
      |FROM sm ORDER BY doc_id""".stripMargin

  /** μ-law COMPRESSED media: the same text-derived PCM16 samples as
    * [[wavMedia]], companded through Multimodal.encodeWavUlaw (G.711,
    * format code 7, half the bytes).
    */
  private def ulawMedia(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val samples = t.map(c => (c - 96).toShort).toArray
        Multimodal.MediaRow(id, "audio/ulaw", 44 + samples.length,
          Multimodal.encodeWavUlaw(samples, 8000))
      }.toDF()
  }

  /** COMPRESSED audio decode (Multimodal.decodeWavCompressed): the
    * text-derived samples companded to μ-law and decoded back through
    * the JDK's OWN codec (javax.sound.sampled — no external library),
    * then featurized like q_mm_audio. The decode is bit-identical to
    * the G.711 expansion formula, so the oracle replays the LOSSY
    * round trip exactly: sign/bias/segment/mantissa in integer SQL,
    * then the same feature tail over the quantized samples — one
    * mis-companded sample splits the hashes.
    */
  val mmAudioUlaw: Q = (s, dir) =>
    Multimodal.decodeAudio(s, ulawMedia(s, dir)).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), col("zero_crossings"),
        round(col("rms"), 6).as("rms"))
      .orderBy("doc_id")

  val mmAudioUlawSql: String =
    """WITH sm AS (SELECT doc_id, length(text) AS n,
      |    list_transform(range(1, length(text)+1),
      |      ai -> ascii(substring(text, CAST(ai AS INT), 1)) - 96) AS s0
      |  FROM documents),
      |cv AS (SELECT doc_id, n,
      |    list_transform(s0, sx -> CASE WHEN sx < 0 THEN -1 ELSE 1 END) AS sg,
      |    list_transform(s0, sx -> least(abs(sx), 32635) + 132) AS vv
      |  FROM sm),
      |ce AS (SELECT doc_id, n, sg, vv,
      |    list_transform(vv, vx -> CASE
      |      WHEN vx >= 16384 THEN 128 WHEN vx >= 8192 THEN 64
      |      WHEN vx >= 4096 THEN 32 WHEN vx >= 2048 THEN 16
      |      WHEN vx >= 1024 THEN 8 WHEN vx >= 512 THEN 4
      |      WHEN vx >= 256 THEN 2 ELSE 1 END) AS dd
      |  FROM cv),
      |rq AS (SELECT doc_id, n,
      |    list_transform(range(1, CAST(n AS INT) + 1), ri ->
      |      sg[CAST(ri AS INT)] *
      |        ((((vv[CAST(ri AS INT)] // (8 * dd[CAST(ri AS INT)])) % 16) * 8 + 132)
      |          * dd[CAST(ri AS INT)] - 132)) AS s
      |  FROM ce)
      |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  (n * 1000) // 8000 AS duration_ms,
      |  CAST(COALESCE(list_max(list_transform(s, px -> abs(px))), 0) AS INT) AS peak,
      |  CAST(COALESCE(list_sum(list_transform(range(2, CAST(n AS INT) + 1), zi ->
      |      CASE WHEN s[CAST(zi AS INT)] <> 0 AND s[CAST(zi - 1 AS INT)] <> 0
      |        AND ((s[CAST(zi AS INT)] < 0) <> (s[CAST(zi - 1 AS INT)] < 0))
      |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings,
      |  CASE WHEN n = 0 THEN 0.0
      |    ELSE round(sqrt(CAST(list_sum(list_transform(s, qx -> qx * qx)) AS DOUBLE)
      |      / n), 6) END AS rms
      |FROM rq ORDER BY doc_id""".stripMargin

  /** Audio → embedding bridge (Multimodal.audioSemanticDedup): real
    * WAV decode → 16-segment amplitude profiles → SemDeDup over the
    * clip vectors — the audio twin of q_mm_neardup, under the shared
    * semanticDedup oracle tail.
    */
  val mmAudioNearDup: Q = (s, dir) =>
    Multimodal.audioSemanticDedup(s, wavMedia(s, dir),
        minCosine = MmNearDupCosine, numCentroids = MmNearDupCentroids,
        segments = 16)
      .orderBy("vid")

  // lazy: the MmNearDup* constants initialize later in the file
  lazy val mmAudioNearDupSql: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE length(text) >= 16),
       |px AS (SELECT doc_id, ((bi - 1) * 16) // n AS cell,
       |    abs(ascii(substring(text, CAST(bi AS INT), 1)) - 96) AS b
       |  FROM (SELECT doc_id, text, n, unnest(range(1, n + 1)) AS bi FROM d)),
       |pooled AS (SELECT doc_id, cell, CAST(sum(b) AS DOUBLE) / count(*) AS f
       |           FROM px GROUP BY 1, 2),
       |vecs AS (SELECT doc_id AS vec_id, list(f ORDER BY cell) AS v FROM pooled GROUP BY doc_id),
       |${semanticDedupTailSql(16, MmNearDupCentroids, MmNearDupCosine)}""".stripMargin

  val mmImage: Q = (s, dir) => {
    val media = p5Media(s, dir, minChars = 16)
    Multimodal.decodeImages(s, media).toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("maxval").cast("long").as("maxval"), col("n_pixels"),
        round(col("mean_pixel"), 6).as("mean_pixel"))
      .orderBy("doc_id")
  }

  val mmImageSql: String =
    """SELECT doc_id, 'P5' AS format, CAST(16 AS BIGINT) AS width,
      |  CAST(length(text) // 16 AS BIGINT) AS height,
      |  CAST(255 AS BIGINT) AS maxval,
      |  CAST(16 * (length(text) // 16) AS BIGINT) AS n_pixels,
      |  round(CAST(list_sum(list_transform(range(1, CAST(16 * (length(text) // 16) AS INT) + 1),
      |    bi -> ascii(substring(text, CAST(bi AS INT), 1)))) AS DOUBLE)
      |    / (16 * (length(text) // 16)), 6) AS mean_pixel
      |FROM documents WHERE length(text) >= 16 ORDER BY doc_id""".stripMargin

  /** Real PNG media: the q_mm_image text-byte raster (16-wide)
    * encoded through the JDK's own ImageIO PNG writer, gray value
    * replicated into RGB so the compressed round-trip is bit-exact.
    */
  private def pngMedia(s: org.apache.spark.sql.SparkSession, dir: String, minChars: Int): DataFrame = {
    import s.implicits._
    // NOT fanned: the JDK codec registries (ImageIO / AudioSystem)
    // synchronize internally, so 32 concurrent encode tasks SERIALIZE
    // on the registry locks and run slower than one task (measured
    // 5.9 s fanned vs 2.9 s serial on the PNG path)
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._2.length >= minChars)
      .map { case (id, t) =>
        val w = 16
        val h = t.length / 16
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < w * h) {
          val v = t.charAt(i).toInt & 0xff
          img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val p = bos.toByteArray
        Multimodal.MediaRow(id, "image/png", p.length, p)
      }.toDF()
  }

  /** COMPRESSED-codec decode (Multimodal.decodeCompressed): the same
    * text-byte raster as q_mm_image, round-tripped through a REAL
    * compressed format — the JDK's PNG writer — and decoded back
    * bit-exactly (mean over the tripled gray channels equals the byte
    * mean), so the oracle is q_mm_image's with the PNG tag. The codec
    * library is the JVM itself: the "needs external image libs" gap
    * does not exist on the Spark runtime.
    */
  val mmImagePng: Q = (s, dir) => {
    val media = pngMedia(s, dir, minChars = 16)
    Multimodal.decodeImages(s, media).toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("maxval").cast("long").as("maxval"), col("n_pixels"),
        round(col("mean_pixel"), 6).as("mean_pixel"))
      .orderBy("doc_id")
  }

  val mmImagePngSql: String = mmImageSql.replace("'P5' AS format", "'PNG' AS format")

  val mmFrames: Q = (s, dir) => {
    val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.sampleFrames(s, media, frames = 5)
      .select(col("doc_id"), col("frame").cast("long").as("frame"),
        col("offset").cast("long").as("offset"), col("first_byte").cast("long").as("first_byte"))
      .orderBy("doc_id", "frame")
  }

  val mmFramesSql: String =
    s"""SELECT doc_id, f AS frame, (f * length(text)) // 5 AS "offset",
       |  CAST(ascii(substring(text, CAST((f * length(text)) // 5 + 1 AS INT), 1)) AS BIGINT) AS first_byte
       |FROM documents, range(0, 5) t(f)
       |ORDER BY doc_id, frame""".stripMargin

  /** Multimodal → embedding bridge (Multimodal.imageSemanticDedup):
    * real P5 decode → 4×4 mean-pooled feature vectors →
    * Similarity.semanticDedup over the image features. Pooled byte
    * means sit near the corpus's mean-byte direction, so the dedup
    * threshold lives close to 1 — the knob measures layout similarity,
    * not topic similarity. The oracle replays decode (per-char ascii
    * codes), pooling (long sum, one IEEE division per cell), centroid
    * sampling, cell assignment, and the within-cell drop set.
    */
  private val MmGrid = 4
  private val MmNearDupCosine = 0.9995
  private val MmNearDupCentroids = 16

  val mmNearDup: Q = (s, dir) =>
    Multimodal.imageSemanticDedup(s, p5Media(s, dir, minChars = 16 * MmGrid),
        minCosine = MmNearDupCosine, numCentroids = MmNearDupCentroids,
        gridW = MmGrid, gridH = MmGrid)
      .orderBy("vid")

  /** The COMPRESSED-decode embedding bridge: the identical raster
    * family as q_mm_neardup but stored as real PNGs and decoded
    * through the JDK codec ([[Multimodal.decodeCompressedPooled]]).
    * PNG is lossless and the RGB-tripled pooled means equal the
    * grayscale ones exactly (3s/3n ≡ s/n — correctly-rounded division
    * of exactly representable operands), so the whole chain shares
    * q_mm_neardup's oracle VERBATIM — the end-to-end proof that a
    * compressed corpus feeds SemDeDup bit-identically.
    */
  val mmNearDupPng: Q = (s, dir) =>
    Multimodal.imageSemanticDedup(s, pngMedia(s, dir, minChars = 16 * MmGrid),
        minCosine = MmNearDupCosine, numCentroids = MmNearDupCentroids,
        gridW = MmGrid, gridH = MmGrid)
      .orderBy("vid")

  /** The semanticDedup replay (normalize → hash-sampled centroids →
    * cell assignment → within-cell drop) over any `vecs(vec_id, v)`
    * CTE — shared by the image and audio embedding bridges.
    */
  private def semanticDedupTailSql(dims: Int, centroids: Int, cosine: Double): String =
    s"""n AS (SELECT * FROM (SELECT vec_id, v,
       |  sqrt(${dotSql("v", "v", dims, "n")}) AS nrm FROM vecs) WHERE nrm > 0),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT $centroids),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", dims, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |drp AS (
       |  SELECT DISTINCT b.vid AS vid
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
       |  WHERE ${dotSql("a.v", "b.v", dims, "d")} / (a.nrm * b.nrm) >= $cosine)
       |SELECT s.vid, s.cell FROM asg s
       |WHERE s.vid NOT IN (SELECT vid FROM drp) ORDER BY vid""".stripMargin

  val mmNearDupSql: String = {
    val dims = MmGrid * MmGrid
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) // 16 AS h FROM documents
       |  WHERE length(text) >= ${16 * MmGrid}),
       |px AS (
       |  SELECT doc_id,
       |    (((bi - 1) // 16) * $MmGrid // h) * $MmGrid + ((bi - 1) % 16) * $MmGrid // 16 AS cell,
       |    ascii(substring(text, CAST(bi AS INT), 1)) AS b
       |  FROM (SELECT doc_id, text, h, unnest(range(1, 16 * h + 1)) AS bi FROM d)),
       |pooled AS (SELECT doc_id, cell, CAST(sum(b) AS DOUBLE) / count(*) AS f
       |           FROM px GROUP BY 1, 2),
       |vecs AS (SELECT doc_id AS vec_id, list(f ORDER BY cell) AS v FROM pooled GROUP BY doc_id),
       |${semanticDedupTailSql(dims, MmNearDupCentroids, MmNearDupCosine)}""".stripMargin
  }

  // ---------------------------------------------------------- registry

  // ------------------------------- commonness / overlap audit / split

  /** Per-doc average corpus frequency of its tokens (integer-exact
    * unigram-LM quality proxy, Relevance.commonness).
    */
  val lmCommonness: Q = (s, dir) =>
    graft.llm.Relevance.commonness(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc")

  val lmCommonnessSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS term FROM wt),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |gf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS freq FROM tf GROUP BY 1)
       |SELECT tf.doc_id AS doc,
       |  CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(tf.tf * gf.freq) AS BIGINT) AS weight_sum,
       |  CAST(CAST(sum(tf.tf * gf.freq) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(tf.tf) AS BIGINT) AS DOUBLE) AS commonness
       |FROM tf JOIN gf USING (term)
       |GROUP BY 1 ORDER BY doc""".stripMargin

  /** Source-pair shingle overlap matrix (Dedup.groupOverlap): the
    * provenance audit over the 20 synthetic sources.
    */
  val sourceOverlap: Q = (s, dir) =>
    Dedup.groupOverlap(Tables.documents(s, dir), "source", "text")
      .orderBy("group_a", "group_b")

  val sourceOverlapSql: String =
    s"""WITH $xsCte,
       |gx AS (
       |  SELECT DISTINCT grp, x FROM (
       |    SELECT d.source AS grp, unnest(xs.xh) AS x
       |    FROM xs JOIN documents d USING (doc_id))),
       |sizes AS (SELECT grp, count(*) AS n FROM gx GROUP BY 1),
       |inter AS (
       |  SELECT a.grp AS group_a, b.grp AS group_b, count(*) AS shared
       |  FROM gx a JOIN gx b ON a.x = b.x AND a.grp < b.grp
       |  GROUP BY 1, 2)
       |SELECT group_a, group_b, shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.grp = group_a
       |JOIN sizes sb ON sb.grp = group_b
       |ORDER BY group_a, group_b""".stripMargin

  /** Stable hash-based train/val/test assignment
    * (TextAnalysis.assignSplit, 90/5/5).
    */
  val splitAssign: Q = (s, dir) =>
    graft.llm.TextAnalysis.assignSplit(
        Tables.documents(s, dir), "doc_id",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .select(col("doc_id").as("doc"), col("split_bucket"), col("split"))
      .orderBy("doc")

  val splitAssignSql: String =
    s"""SELECT doc, split_bucket,
       |  CASE WHEN split_bucket < 900 THEN 'train'
       |       WHEN split_bucket < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id AS doc,
       |    ${strhashSql("CAST(doc_id AS VARCHAR)", "h")} % 1000 AS split_bucket
       |  FROM documents)
       |ORDER BY doc""".stripMargin

  // ------------------- span dedup / mixture / trimming / lang audit

  /** Per-doc span-duplication profile (Dedup.spanDuplication): the
    * exact-substring-dedup audit — what fraction of each doc's distinct
    * shingle spans also occur in some other document.
    */
  val dupSpans: Q = (s, dir) =>
    Dedup.spanDuplication(Tables.documents(s, dir), "doc_id", "text").orderBy("doc")

  val dupSpansSql: String =
    s"""WITH $xsCte,
       |ex AS (SELECT doc_id, unnest(xh) AS x FROM xs),
       |dfq AS (SELECT x, count(*) AS df FROM ex GROUP BY x)
       |SELECT ex.doc_id AS doc, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       |  CAST(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS dup_fraction
       |FROM ex JOIN dfq USING (x) GROUP BY ex.doc_id ORDER BY doc""".stripMargin

  /** Duplicated-span removal (Dedup.removeDupSpans, w=3): the cut
    * stage behind `q_dup_spans` — every 3-word span occurring >= 2
    * times corpus-wide (within-doc repeats count) is excised from every
    * doc; docs reassemble from surviving words. The oracle replays the
    * positioned span hashes, the corpus frequency, the covered-position
    * anti-join, and the ordered reassembly, hashing the cleaned text.
    */
  val spanRemoval: Q = (s, dir) =>
    Dedup.removeDupSpans(Tables.documents(s, dir), "doc_id", "text",
        w = 3, minRunWords = 1)
      .orderBy("doc")

  val spanRemovalSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, CAST(si - 1 AS INT) AS pos,
       |    array_to_string(ws[CAST(si AS INT):CAST(si + 2 AS INT)], ' ') AS sg
       |  FROM wt, unnest(range(1, len(ws) - 1)) AS t(si)),
       |ex AS (SELECT doc_id, pos, ${strhashSql("sg", "sr")} AS x FROM sp),
       |dfq AS (SELECT x FROM ex GROUP BY x HAVING count(*) >= 2),
       |cov AS (
       |  SELECT DISTINCT e.doc_id, e.pos + CAST(o AS INT) AS cp
       |  FROM ex e JOIN dfq USING (x), unnest(range(0, 3)) AS t(o)),
       |wp AS (
       |  SELECT doc_id, CAST(wi - 1 AS INT) AS pos, ws[CAST(wi AS INT)] AS wd
       |  FROM wt, unnest(range(1, len(ws) + 1)) AS t(wi)),
       |keptw AS (
       |  SELECT p.doc_id, p.pos, p.wd FROM wp p
       |  LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.cp
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(wd, ' ' ORDER BY pos) AS clean
       |  FROM keptw GROUP BY doc_id)
       |SELECT wt.doc_id AS doc, CAST(len(ws) AS INT) AS n_words,
       |  CAST(len(ws) - COALESCE(n_kept, 0) AS INT) AS n_removed,
       |  ${strhashSql("COALESCE(clean, '')", "ch")} AS clean_hash
       |FROM wt LEFT JOIN agg USING (doc_id) ORDER BY doc""".stripMargin

  /** Maximal-run span removal (Dedup.removeDupSpans, w=3,
    * minRunWords=6): adjacent covered positions merge into islands and
    * only duplicated RUNS of >= 6 words excise — the Lee et al. 2022
    * length-threshold semantics (a corpus-common trigram survives; an
    * extended duplicated passage is cut). The oracle adds the islands
    * CTE (cp − row_number per doc) on top of the q_span_removal replay.
    */
  val spanRemovalRuns: Q = (s, dir) =>
    Dedup.removeDupSpans(Tables.documents(s, dir), "doc_id", "text",
        w = 3, minRunWords = 6)
      .orderBy("doc")

  val spanRemovalRunsSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, CAST(si - 1 AS INT) AS pos,
       |    array_to_string(ws[CAST(si AS INT):CAST(si + 2 AS INT)], ' ') AS sg
       |  FROM wt, unnest(range(1, len(ws) - 1)) AS t(si)),
       |ex AS (SELECT doc_id, pos, ${strhashSql("sg", "sr")} AS x FROM sp),
       |dfq AS (SELECT x FROM ex GROUP BY x HAVING count(*) >= 2),
       |cov0 AS (
       |  SELECT DISTINCT e.doc_id, e.pos + CAST(o AS INT) AS cp
       |  FROM ex e JOIN dfq USING (x), unnest(range(0, 3)) AS t(o)),
       |isl AS (
       |  SELECT doc_id, cp,
       |    cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
       |  FROM cov0),
       |runs AS (SELECT doc_id, g FROM isl GROUP BY doc_id, g HAVING count(*) >= 6),
       |cov AS (SELECT isl.doc_id, isl.cp FROM isl JOIN runs USING (doc_id, g)),
       |wp AS (
       |  SELECT doc_id, CAST(wi - 1 AS INT) AS pos, ws[CAST(wi AS INT)] AS wd
       |  FROM wt, unnest(range(1, len(ws) + 1)) AS t(wi)),
       |keptw AS (
       |  SELECT p.doc_id, p.pos, p.wd FROM wp p
       |  LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.cp
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(wd, ' ' ORDER BY pos) AS clean
       |  FROM keptw GROUP BY doc_id)
       |SELECT wt.doc_id AS doc, CAST(len(ws) AS INT) AS n_words,
       |  CAST(len(ws) - COALESCE(n_kept, 0) AS INT) AS n_removed,
       |  ${strhashSql("COALESCE(clean, '')", "ch")} AS clean_hash
       |FROM wt LEFT JOIN agg USING (doc_id) ORDER BY doc""".stripMargin

  /** Square-root-temperature mixture weights over sources
    * (Mixture.temperatureWeights): a 1M-token budget allocated
    * ∝ √tokens per source.
    */
  val mixtureWeights: Q = (s, dir) =>
    graft.llm.Mixture.temperatureWeights(
        Tables.documents(s, dir), "source",
        size(TextOps.words(col("text"))), budgetTokens = 1000000L)
      .orderBy("grp")

  val mixtureWeightsSql: String =
    s"""WITH wt AS (
       |  SELECT source, len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS tokens
       |  FROM documents),
       |per AS (SELECT source AS grp, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS tokens
       |        FROM wt GROUP BY 1),
       |w AS (SELECT grp, n_docs, tokens,
       |        CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_d FROM per),
       |tot AS (SELECT sum(w_d) AS w_tot FROM w),
       |ww AS (SELECT grp, n_docs, tokens,
       |  CASE WHEN CAST(w_tot AS DOUBLE) > 0 THEN CAST(w_d AS DOUBLE) / CAST(w_tot AS DOUBLE)
       |       ELSE 0.0 END AS weight
       |  FROM w CROSS JOIN tot)
       |SELECT grp, n_docs, tokens, weight,
       |  CAST(floor(1000000.0 * weight) AS BIGINT) AS alloc_tokens,
       |  CASE WHEN tokens > 0 THEN floor(1000000.0 * weight) / CAST(tokens AS DOUBLE)
       |       ELSE 0.0 END AS epochs
       |FROM ww ORDER BY grp""".stripMargin

  /** Mixture EXECUTION (Mixture.materialize over temperatureWeights):
    * the 1M-token √-temperature allocation turned into the actual
    * repeated doc stream — floor(epochs) full repeats per doc plus a
    * deterministic-hash fractional draw. The oracle composes the
    * allocation CTEs with generate_series.
    */
  val mixtureMaterialize: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val alloc = graft.llm.Mixture.temperatureWeights(
      docs, "source", size(TextOps.words(col("text"))), budgetTokens = 1000000L)
    graft.llm.Mixture.materialize(docs, "source", "doc_id", alloc)
      .orderBy("source", "doc_id", "rep")
  }

  val mixtureMaterializeSql: String =
    s"""WITH wt AS (
       |  SELECT source, len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS tokens
       |  FROM documents),
       |per AS (SELECT source AS grp, CAST(sum(tokens) AS BIGINT) AS tokens
       |        FROM wt GROUP BY 1),
       |w AS (SELECT grp, tokens,
       |        CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_d FROM per),
       |tot AS (SELECT sum(w_d) AS w_tot FROM w),
       |ep AS (SELECT grp,
       |  CASE WHEN tokens > 0 THEN
       |    floor(1000000.0 * (CASE WHEN CAST(w_tot AS DOUBLE) > 0
       |      THEN CAST(w_d AS DOUBLE) / CAST(w_tot AS DOUBLE) ELSE 0.0 END))
       |      / CAST(tokens AS DOUBLE)
       |  ELSE 0.0 END AS epochs
       |  FROM w CROSS JOIN tot),
       |r AS (
       |  SELECT doc_id, source,
       |    CAST(floor(epochs) AS BIGINT)
       |      + CASE WHEN CAST((hv * hv) % 1000000007 + 1 AS DOUBLE) / 1000000008.0
       |                  < epochs - floor(epochs) THEN 1 ELSE 0 END AS n_reps
       |  FROM (SELECT doc_id, source,
       |          ${strhashSql("'mix:' || CAST(doc_id AS VARCHAR)", "m")} AS hv
       |        FROM documents) d
       |  JOIN ep ON d.source = ep.grp)
       |SELECT doc_id, source, n_reps, unnest(generate_series(1, n_reps)) AS rep
       |FROM r WHERE n_reps > 0 ORDER BY source, doc_id, rep""".stripMargin

  /** This session's stages composed end to end under ONE oracle — the
    * DSIR-era pretraining selection chain: normalized exact dedup
    * keeps each canonical doc (C4/CCNet near-copies collapse to the
    * min-id survivor), DSIR scores the survivors against the English
    * target, and the 20k-token budget cut keeps the top-scored prefix
    * (rank quantized to the score's 6-decimal form; id tiebreak). One
    * lazy plan: the dedup survivor set anti-drives the scoring scan,
    * the bucket models broadcast, the cumsum runs the two-pass
    * distributed shape.
    */
  /** The CCNet-era curation chain composed end to end under ONE oracle
    * — the round-7 sibling of `q_dsir_pipeline`: normalized exact
    * dedup keeps canonical docs, the perplexity filter scores
    * survivors against the English reference model and drops the tail
    * bucket, and the token budget fills best-quality-first
    * (lowest cross-entropy). One lazy plan: dedup anti-join → one
    * tokenize → broadcast model → decimal dot → two-pass budget
    * cumsum.
    */
  /** Join-cardinality estimation (Sketches.joinCardinality): "how big
    * is orders ⋈ lineitem?" answered from two O(k) KMV sketches and
    * never a join — the planner-style estimate (true answer ≈ every
    * lineitem matches, so est_join_rows should land near |lineitem|).
    * The oracle replays both sketches (rank-k over distinct key
    * hashes), the union bottom-k, the Jaccard membership count, and
    * the uniform-frequency arithmetic.
    */
  val joinEstimate: Q = (s, dir) =>
    graft.llm.Sketches.joinCardinality(
      Tables.orders(s, dir), col("o_orderkey"),
      Tables.lineitem(s, dir), col("l_orderkey"), k = 256)

  val joinEstimateSql: String = {
    val kP = 255L * TextOps.P
    val aH = strhashSql("CAST(o_orderkey AS VARCHAR)", "ja")
    val bH = strhashSql("CAST(l_orderkey AS VARCHAR)", "jb")
    def est(m: String): String =
      s"CASE WHEN len($m) < 256 THEN CAST(len($m) AS DOUBLE) " +
        s"ELSE CAST($kP AS DOUBLE) / CAST($m[256] AS DOUBLE) END"
    s"""WITH ah AS (SELECT DISTINCT (q * q) % ${TextOps.P} AS h
       |  FROM (SELECT (sh * sh) % ${TextOps.P} AS q
       |        FROM (SELECT $aH AS sh FROM orders))),
       |bh AS (SELECT DISTINCT (q * q) % ${TextOps.P} AS h
       |  FROM (SELECT (sh * sh) % ${TextOps.P} AS q
       |        FROM (SELECT $bH AS sh FROM lineitem))),
       |am AS (SELECT list(h ORDER BY h) AS ma FROM (SELECT h FROM ah ORDER BY h LIMIT 256)),
       |bm AS (SELECT list(h ORDER BY h) AS mb FROM (SELECT h FROM bh ORDER BY h LIMIT 256)),
       |ra AS (SELECT CAST(count(*) AS BIGINT) AS rows_a FROM orders),
       |rb AS (SELECT CAST(count(*) AS BIGINT) AS rows_b FROM lineitem),
       |base AS (SELECT rows_a, rows_b, ma, mb,
       |    list_slice(list_sort(list_distinct(ma || mb)), 1, 256) AS mu
       |  FROM ra, rb, am, bm),
       |c AS (SELECT rows_a, rows_b, mu,
       |    ${est("ma")} AS est_a, ${est("mb")} AS est_b, ${est("mu")} AS est_u,
       |    CAST(len(list_filter(mu, ux ->
       |      list_contains(ma, ux) AND list_contains(mb, ux))) AS BIGINT) AS m_both
       |  FROM base)
       |SELECT rows_a, rows_b,
       |  round(est_a, 6) AS est_distinct_a, round(est_b, 6) AS est_distinct_b,
       |  round(est_u, 6) AS est_union, m_both,
       |  CASE WHEN len(mu) > 0
       |    THEN round(CAST(m_both AS DOUBLE) / CAST(len(mu) AS DOUBLE), 6)
       |    ELSE 0.0 END AS jaccard_est,
       |  CASE WHEN len(mu) > 0
       |    THEN round(CAST(m_both AS DOUBLE) / CAST(len(mu) AS DOUBLE) * est_u, 6)
       |    ELSE 0.0 END AS inter_est,
       |  CASE WHEN est_a > 0 AND est_b > 0
       |    THEN round(CAST(m_both AS DOUBLE) / CAST(len(mu) AS DOUBLE) * est_u
       |      * (CAST(rows_a AS DOUBLE) / est_a) * (CAST(rows_b AS DOUBLE) / est_b), 6)
       |    ELSE 0.0 END AS est_join_rows
       |FROM c""".stripMargin
  }

  /** Deterministic training order (Mixture.trainingOrder): per-source
    * curriculum (longest docs first, id ties) interleaved by
    * stratified fractional position so every step prefix holds ≈ each
    * source's proportional share. The oracle replays the per-slice
    * windows, the position arithmetic (identical IEEE ops), and the
    * global order.
    */
  val trainingOrderQ: Q = (s, dir) =>
    graft.llm.Mixture.trainingOrder(
        Tables.documents(s, dir), "doc_id", "source", col("n_chars"))
      .orderBy("step")

  val trainingOrderSql: String =
    """WITH s AS (SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
      |      AS BIGINT) - 1 AS j,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
      |  FROM documents),
      |p AS (SELECT doc_id, source, j,
      |    (CAST(j AS DOUBLE) + 0.5) / CAST(ns AS DOUBLE) AS pos FROM s)
      |SELECT CAST(row_number() OVER (ORDER BY pos, source, j) AS BIGINT) AS step,
      |  source, doc_id, j + 1 AS slice_rank, pos
      |FROM p ORDER BY step""".stripMargin

  val ccnetPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val canon = Dedup.exactNormalized(docs, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    val survivors = docs.join(canon, "doc_id")
    val scored = graft.llm.Selection.lmCrossEntropy(
      survivors, "doc_id", "text", col("lang") === "en", numBuckets = 4096)
    val head = scored.filter(col("cross_entropy") < 3.704)
      .select(col("doc_id"), round(-col("cross_entropy"), 6).as("score"), col("n_tokens"))
    graft.llm.Selection.selectByBudget(
        head, "doc_id", "score", col("n_tokens"), budgetTokens = 10000L)
      .orderBy("doc_id")
  }

  val ccnetPipelineSql: String =
    s"""WITH nt AS (SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 \t\n]', ' ', 'g'), '[ \t\n]+', ' ', 'g')) AS ntext
       |  FROM documents),
       |canon AS (SELECT min(doc_id) AS doc_id FROM nt
       |          GROUP BY ${strhashSql("ntext", "h")}, md5(ntext)),
       |sv AS (SELECT d.* FROM documents d JOIN canon USING (doc_id)),
       |wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM sv),
       |tok AS (
       |  SELECT doc_id, is_ref, ${strhashSql("w", "d")} % 4096 AS b
       |  FROM (SELECT doc_id, is_ref, unnest(ws) AS w FROM wt)),
       |db AS (SELECT doc_id, is_ref, b, count(*) AS n FROM tok GROUP BY 1, 2, 3),
       |model AS (SELECT b, CAST(sum(n) AS BIGINT) AS cb FROM db WHERE is_ref GROUP BY 1),
       |tot AS (SELECT coalesce(CAST(sum(cb) AS BIGINT), 0) AS t FROM model),
       |lsc AS (SELECT d.doc_id, d.n,
       |    CAST(round(ln(CAST(coalesce(m.cb, 0) + 1 AS DOUBLE)
       |      / CAST(t + 4096 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM db d LEFT JOIN model m USING (b) CROSS JOIN tot),
       |ag AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS ce
       |  FROM lsc GROUP BY 1),
       |hd AS (SELECT doc_id, round(-ce, 6) AS score, n_tokens FROM ag WHERE ce < 3.704),
       |o AS (SELECT doc_id, score, n_tokens AS tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM hd)
       |SELECT doc_id, score, tokens, cum_tokens
       |FROM o WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin

  val dsirPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val canon = Dedup.exactNormalized(docs, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    val survivors = docs.join(canon, "doc_id")
    val scored = graft.llm.Selection.dsirWeights(
      survivors, "doc_id", "text", col("lang") === "en", numBuckets = 4096)
    val ranked = scored.select(col("doc_id"),
      round(col("dsir_score"), 6).as("score"), col("n_tokens"))
    graft.llm.Selection.selectByBudget(
        ranked, "doc_id", "score", col("n_tokens"), budgetTokens = 20000L)
      .orderBy("doc_id")
  }

  val dsirPipelineSql: String =
    s"""WITH nt AS (SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 \t\n]', ' ', 'g'), '[ \t\n]+', ' ', 'g')) AS ntext
       |  FROM documents),
       |canon AS (SELECT min(doc_id) AS doc_id FROM nt
       |          GROUP BY ${strhashSql("ntext", "h")}, md5(ntext)),
       |sv AS (SELECT d.* FROM documents d JOIN canon USING (doc_id)),
       |wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_target,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM sv),
       |tok AS (
       |  SELECT doc_id, is_target, ${strhashSql("w", "d")} % 4096 AS b
       |  FROM (SELECT doc_id, is_target, unnest(ws) AS w FROM wt)),
       |db AS (SELECT doc_id, is_target, b, count(*) AS n FROM tok GROUP BY 1, 2, 3),
       |model AS (SELECT b,
       |    sum(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
       |    sum(CASE WHEN NOT is_target THEN n ELSE 0 END) AS cr
       |  FROM db GROUP BY 1),
       |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM model),
       |lr AS (SELECT b,
       |    CAST(round(ln(CAST((ct+1)*(r+4096) AS DOUBLE)
       |      / CAST((cr+1)*(t+4096) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
       |  FROM model CROSS JOIN tot),
       |sc AS (SELECT d.doc_id,
       |    round(CAST(sum(d.n * l.lr) AS DOUBLE), 6) AS score,
       |    CAST(sum(d.n) AS BIGINT) AS n_tokens
       |  FROM db d JOIN lr l USING (b) GROUP BY 1),
       |o AS (SELECT doc_id, score, n_tokens AS tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM sc)
       |SELECT doc_id, score, tokens, cum_tokens
       |FROM o WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin

  /** The TRAINING-RUN capstone (VERDICT r9 item 7): the adjudicated
    * stages composed end to end — curation gate (quality →
    * decontamination → exact dedup → near-dup CC) → UniMax allocation
    * over the survivors (budget 40k, 2-epoch cap: both waterfill
    * regimes live at sf0.01) → materialized repeat stream (rep folded
    * into the id, the trainingOrder scaladoc's own recipe) →
    * stratified curriculum order → per-source concat-and-chop packing
    * (budget 256) → balanced no-split sharding (budget 15k). The
    * output is the per-stage FUNNEL: (stage, n_rows, n_tokens,
    * checksum) where each checksum is a mod-P integer digest of the
    * stage's full assignment (ids, the fixed-point allocation, the
    * step permutation, the seq spans, the shard map) — so the oracle
    * hash gates every stage's complete output, not just its
    * cardinality, while the result stays 6 rows at any corpus size.
    * All arithmetic is exact-integer (the one double, θ, enters the
    * digest through the floor(x·10⁶ + 0.5) BIGINT rule).
    */
  val trainingRun: Q = (s, dir) => {
    val P = 1000000007L
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val evalShingles = Dedup.evalShingleSet(
      docs.filter(col("doc_id") % 97 === 0).select(col("text")), "text")
    val gated = graft.streaming.CurationGate.gateBatch(docs, evalShingles, None,
      minQuality = 0.35, maxOverlap = 0.5, minJaccard = 0.6)
    val wt = gated.select(col("doc_id"), col("source"),
        size(TextOps.words(col("text"))).cast("long").as("tokens"))
      .localCheckpoint(false) // feeds alloc, materialize, and the funnel row
    val alloc = graft.llm.Mixture.unimaxAllocation(wt, "source", col("tokens"),
      budgetTokens = 40000L, maxEpochs = 2)
    // repeat stream with the copy index folded into the id (n_reps <= 2 < 4)
    val mat = graft.llm.Mixture.materialize(wt, "source", "doc_id", alloc)
      .join(wt.select(col("doc_id"), col("tokens")), "doc_id")
      .select((col("doc_id") * 4 + col("rep")).as("uid"), col("source"), col("tokens"))
      .localCheckpoint(false) // feeds order, shard, and two funnel rows
    val ordered = graft.llm.Mixture.trainingOrder(mat, "uid", "source", col("tokens"))
      .join(mat.select(col("uid"), col("tokens")), "uid")
    val packed = TextAnalysis.packSequences(
      ordered.select(col("step"), col("source"), col("tokens")),
      "step", "source", col("tokens"), budget = 256)
    val sharded = graft.llm.Selection.shardBalanced(mat, "uid", col("tokens"),
      budgetTokens = 15000L)
    def digest(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (sum(c % P) % P).cast("long")
    val r1 = wt.agg(count(lit(1)).as("n_rows"), sum(col("tokens")).as("n_tokens"),
        digest(col("doc_id")).as("checksum"))
      .select(lit("1_gate").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    val r2 = alloc.agg(count(lit(1)).as("n_rows"), sum(col("cap_tokens")).as("n_tokens"),
        digest(floor(col("alloc_tokens") * 1000000.0 + 0.5).cast("long")).as("checksum"))
      .select(lit("2_alloc").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    val r3 = mat.agg(count(lit(1)).as("n_rows"), sum(col("tokens")).as("n_tokens"),
        digest(col("uid")).as("checksum"))
      .select(lit("3_materialize").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    val r4 = ordered.agg(count(lit(1)).as("n_rows"), sum(col("tokens")).as("n_tokens"),
        digest((col("step") % P) * (col("uid") % P)).as("checksum"))
      .select(lit("4_order").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    val r5 = packed
      .groupBy(col("grp")).agg(max(col("last_seq")).as("ml"),
        sum(col("tokens")).as("tk"),
        sum((col("doc") * 31 + col("first_seq") * 7 + col("last_seq")) % P).as("ck"))
      .agg(sum(col("ml") + 1).cast("long").as("n_rows"),
        sum(col("tk")).as("n_tokens"), (sum(col("ck")) % P).cast("long").as("checksum"))
      .select(lit("5_pack").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    val r6 = sharded
      .groupBy(col("shard")).agg(max(col("n_shards")).as("nsh"),
        sum(col("tokens")).as("st"),
        sum((col("uid") * 31 + col("shard")) % P).as("ck"))
      .agg(max(col("nsh")).as("n_rows"), max(col("st")).as("n_tokens"),
        (sum(col("ck")) % P).cast("long").as("checksum"))
      .select(lit("6_shard").as("stage"), col("n_rows"), col("n_tokens"), col("checksum"))
    r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5).unionAll(r6)
      .orderBy("stage")
  }

  val trainingRunSql: String = {
    val P = 1000000007L
    s"""WITH sv AS MATERIALIZED (SELECT doc_id FROM ($curationGateSql)),
       |wt AS MATERIALIZED (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(list_filter(string_split(d.text, ' '), wx -> wx <> '')) AS BIGINT) AS tokens
       |  FROM documents d JOIN sv USING (doc_id)),
       |per AS (SELECT source AS grp, CAST(sum(tokens) AS BIGINT) AS tokens,
       |          CAST(sum(tokens) * 2 AS BIGINT) AS cap
       |        FROM wt GROUP BY 1),
       |urk AS (
       |  SELECT a.grp, a.tokens, a.cap,
       |    coalesce(CAST(sum(b.cap) AS BIGINT), 0) AS prefix,
       |    CAST(count(b.grp) AS BIGINT) AS nbelow
       |  FROM per a LEFT JOIN per b
       |    ON b.cap < a.cap OR (b.cap = a.cap AND b.grp < a.grp)
       |  GROUP BY 1, 2, 3),
       |ng AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
       |fl AS (SELECT urk.*, (cap * (n - nbelow) < 40000 - prefix) AS capped
       |       FROM urk CROSS JOIN ng),
       |sat AS (SELECT coalesce(CAST(sum(CASE WHEN capped THEN cap END) AS BIGINT), 0) AS sat,
       |               CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS nun
       |        FROM fl),
       |al AS (SELECT grp, tokens, cap,
       |    CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |         ELSE CAST(40000 - sat AS DOUBLE) / CAST(nun AS DOUBLE) END AS alloc,
       |    CASE WHEN tokens > 0 THEN
       |      (CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |            ELSE CAST(40000 - sat AS DOUBLE) / CAST(nun AS DOUBLE) END)
       |        / CAST(tokens AS DOUBLE) ELSE 0.0 END AS epochs
       |  FROM fl CROSS JOIN sat),
       |mr AS (
       |  SELECT w.doc_id, w.source, w.tokens,
       |    CAST(floor(epochs) AS BIGINT)
       |      + CASE WHEN CAST((hv * hv) % 1000000007 + 1 AS DOUBLE) / 1000000008.0
       |                  < epochs - floor(epochs) THEN 1 ELSE 0 END AS n_reps
       |  FROM (SELECT doc_id, source, tokens,
       |          ${strhashSql("'mix:' || CAST(doc_id AS VARCHAR)", "m")} AS hv
       |        FROM wt) w
       |  JOIN al ON al.grp = w.source),
       |mat AS MATERIALIZED (
       |  SELECT doc_id * 4 + rep AS uid, source, tokens FROM (
       |    SELECT doc_id, source, tokens,
       |      unnest(generate_series(1, n_reps)) AS rep
       |    FROM mr WHERE n_reps > 0)),
       |osx AS (SELECT uid, source, tokens,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY tokens DESC, uid)
       |      AS BIGINT) - 1 AS j,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
       |  FROM mat),
       |og AS MATERIALIZED (SELECT uid, source, tokens,
       |    CAST(row_number() OVER (
       |      ORDER BY (CAST(j AS DOUBLE) + 0.5) / CAST(ns AS DOUBLE), source, j)
       |      AS BIGINT) AS step
       |  FROM osx),
       |pk AS (SELECT source, step, tokens,
       |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY step
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM og),
       |pk2 AS (SELECT source, step, tokens, (end_off - tokens) // 256 AS first_seq,
       |        (end_off - 1) // 256 AS last_seq FROM pk),
       |shr AS (SELECT uid, tokens,
       |    CAST(row_number() OVER (ORDER BY tokens DESC, uid) AS BIGINT) AS srk FROM mat),
       |shn AS (SELECT greatest(CAST((sum(tokens) + 14999) // 15000 AS BIGINT), 1) AS n_shards
       |        FROM mat),
       |sh AS (SELECT uid, tokens, CAST((srk - 1) % n_shards AS BIGINT) AS shard, n_shards
       |       FROM shr CROSS JOIN shn)
       |SELECT stage, n_rows, n_tokens, checksum FROM (
       |  SELECT '1_gate' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(doc_id % $P) % $P AS BIGINT) AS checksum FROM wt
       |  UNION ALL
       |  SELECT '2_alloc', CAST(count(*) AS BIGINT), CAST(sum(cap) AS BIGINT),
       |    CAST(sum(CAST(floor(alloc * 1000000.0 + 0.5) AS BIGINT) % $P) % $P AS BIGINT)
       |  FROM al
       |  UNION ALL
       |  SELECT '3_materialize', CAST(count(*) AS BIGINT), CAST(sum(tokens) AS BIGINT),
       |    CAST(sum(uid % $P) % $P AS BIGINT) FROM mat
       |  UNION ALL
       |  SELECT '4_order', CAST(count(*) AS BIGINT), CAST(sum(tokens) AS BIGINT),
       |    CAST(sum((step % $P) * (uid % $P) % $P) % $P AS BIGINT) FROM og
       |  UNION ALL
       |  SELECT '5_pack',
       |    (SELECT CAST(sum(ml + 1) AS BIGINT) FROM
       |      (SELECT max(last_seq) AS ml FROM pk2 GROUP BY source)),
       |    CAST(sum(tokens) AS BIGINT),
       |    CAST(sum((step * 31 + first_seq * 7 + last_seq) % $P) % $P AS BIGINT) FROM pk2
       |  UNION ALL
       |  SELECT '6_shard', (SELECT n_shards FROM shn),
       |    (SELECT CAST(max(st) AS BIGINT) FROM
       |      (SELECT sum(tokens) AS st FROM sh GROUP BY shard)),
       |    CAST(sum((uid * 31 + shard) % $P) % $P AS BIGINT) FROM sh)
       |ORDER BY stage""".stripMargin
  }

  /** Per-source KL divergence from the corpus word distribution
    * (Mixture.sourceDivergence): the drift audit behind mixture
    * weighting. Terms quantize to DECIMAL(18,6), totals are exact
    * decimal sums (the bm25 log-score pattern).
    */
  val sourceDivergence: Q = (s, dir) =>
    graft.llm.Mixture.sourceDivergence(Tables.documents(s, dir), "source", "text")
      .orderBy("grp")

  val sourceDivergenceSql: String =
    """WITH tok AS (
      |  SELECT source AS grp, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
      |  FROM documents),
      |gw AS (SELECT grp, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |wc AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM gw GROUP BY 1),
      |gt AS (SELECT grp, CAST(sum(c) AS BIGINT) AS tg FROM gw GROUP BY 1),
      |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS tc FROM wc),
      |terms AS (
      |  SELECT grp, c,
      |    CAST(round((CAST(c AS DOUBLE) / tg) * ln((CAST(c AS DOUBLE) / tg) / (CAST(cw AS DOUBLE) / tc)), 6)
      |      AS DECIMAL(18,6)) AS term
      |  FROM gw JOIN wc USING (w) JOIN gt USING (grp) CROSS JOIN tot)
      |SELECT grp, CAST(sum(c) AS BIGINT) AS tokens, count(*) AS n_distinct,
      |  CAST(sum(term) AS DOUBLE) AS kl_divergence
      |FROM terms GROUP BY grp ORDER BY grp""".stripMargin

  /** Per-source survivor stats after trimming each source's shortest and
    * longest 10% of docs by rank (TextAnalysis.trimLengthOutliers —
    * integer bounds, so both engines cut identical rows).
    */
  val lengthTrim: Q = (s, dir) =>
    TextAnalysis.trimLengthOutliers(
        Tables.documents(s, dir), "source", "n_chars", "doc_id",
        loPermille = 100, hiPermille = 100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_len"),
        max(col("n_chars")).as("max_len"), min(col("doc_id")).as("first_doc"))
      .orderBy("source")

  val lengthTrimSql: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM documents)
       |SELECT source, count(*) AS n_kept, min(n_chars) AS min_len,
       |  max(n_chars) AS max_len, min(doc_id) AS first_doc
       |FROM r
       |WHERE rk > (n * 100) // 1000 AND rk <= n - (n * 100) // 1000
       |GROUP BY source ORDER BY source""".stripMargin

  /** Language-ID confusion matrix (TextAnalysis.langConfusion): predicted
    * language vs the corpus's trusted `lang` label.
    */
  val langConfusion: Q = (s, dir) =>
    TextAnalysis.langConfusion(Tables.documents(s, dir), "doc_id", "text", "lang")
      .orderBy("true_lang", "pred_lang")

  val langConfusionSql: String = {
    val markers = TextAnalysis.LangMarkers
    val scores = markers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(ws, lw -> list_contains($lst, lw))) AS s_$lang"
    }.mkString(",\n    ")
    val langs = markers.map(_._1)
    val caseChain = langs.zipWithIndex.map { case (lang, i) =>
      val conds = langs.zipWithIndex.filter(_._2 != i).map { case (other, j) =>
        if (j < i) s"s_$lang > s_$other" else s"s_$lang >= s_$other"
      }
      s"WHEN s_$lang > 0 AND ${conds.mkString(" AND ")} THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH wt AS (
       |  SELECT doc_id, lang, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |sc AS (
       |  SELECT lang,
       |    $scores
       |  FROM wt)
       |SELECT lang AS true_lang, CASE $caseChain ELSE 'und' END AS pred_lang,
       |  count(*) AS n_docs
       |FROM sc GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin
  }

  /** Gopher duplicate-line metrics (TextAnalysis.lineRepetition). The
    * corpus is single-line, so the query plants deterministic line
    * breaks first — every second inter-word space becomes a newline
    * (regex `(\S+ \S+) ` → `$1\n`; global replace scans left-to-right
    * non-overlapping identically under Java regex and RE2), giving
    * two-word lines over a 31-word vocabulary that genuinely repeat —
    * the metrics gate REAL duplication, not zeros.
    */
  val dupLines: Q = (s, dir) => {
    val seeded = Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
    TextAnalysis.lineRepetition(seeded, "doc_id", "text").orderBy("doc")
  }

  val dupLinesSql: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS text FROM documents),
      |lc AS (
      |  SELECT doc_id, l, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM seeded)
      |  GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
      |    count(*) AS n_distinct_lines,
      |    CAST(sum(c * length(l)) AS BIGINT) AS line_chars,
      |    CAST(sum(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END) AS BIGINT) AS dup_chars
      |  FROM lc GROUP BY 1)
      |SELECT doc_id AS doc, n_lines, n_distinct_lines,
      |  round(CAST(n_lines - n_distinct_lines AS DOUBLE) / n_lines, 6) AS dup_line_frac,
      |  CASE WHEN line_chars > 0
      |    THEN round(CAST(dup_chars AS DOUBLE) / line_chars, 6) END AS dup_line_char_frac
      |FROM ag ORDER BY doc""".stripMargin

  /** UniMax waterfill allocation (Mixture.unimaxAllocation): uniform
    * budget split with a hard per-slice epoch cap — the saturation set
    * is decided in pure integer arithmetic and the water level is one
    * double division of exact longs, so the oracle replays the whole
    * fill bit-for-bit. Budget 26000 at maxEpochs 1 sits inside the
    * per-source token spread at sf0.01, so BOTH regimes appear: small
    * sources saturate at 1 epoch, large ones share the water level.
    */
  val mixtureUnimax: Q = (s, dir) =>
    graft.llm.Mixture.unimaxAllocation(
        Tables.documents(s, dir), "source",
        size(TextOps.words(col("text"))), budgetTokens = 26000L, maxEpochs = 1)
      .orderBy("grp")

  val mixtureUnimaxSql: String =
    s"""WITH wt AS (
       |  SELECT source, len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS t
       |  FROM documents),
       |per AS (SELECT source AS grp, count(*) AS n_docs,
       |          CAST(sum(t) AS BIGINT) AS tokens, CAST(sum(t) * 1 AS BIGINT) AS cap
       |        FROM wt GROUP BY 1),
       |rk AS (
       |  SELECT a.grp, a.n_docs, a.tokens, a.cap,
       |    coalesce(CAST(sum(b.cap) AS BIGINT), 0) AS prefix,
       |    CAST(count(b.grp) AS BIGINT) AS nbelow
       |  FROM per a LEFT JOIN per b
       |    ON b.cap < a.cap OR (b.cap = a.cap AND b.grp < a.grp)
       |  GROUP BY 1, 2, 3, 4),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
       |fl AS (SELECT rk.*, (cap * (n - nbelow) < 26000 - prefix) AS capped
       |       FROM rk CROSS JOIN nt),
       |st AS (SELECT coalesce(CAST(sum(CASE WHEN capped THEN cap END) AS BIGINT), 0) AS sat,
       |              CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS nun
       |       FROM fl)
       |SELECT grp, n_docs, tokens, cap AS cap_tokens,
       |  CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |       ELSE CAST(26000 - sat AS DOUBLE) / CAST(nun AS DOUBLE) END AS alloc_tokens,
       |  CASE WHEN tokens > 0 THEN
       |    (CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |          ELSE CAST(26000 - sat AS DOUBLE) / CAST(nun AS DOUBLE) END)
       |      / CAST(tokens AS DOUBLE)
       |  ELSE 0.0 END AS epochs
       |FROM fl CROSS JOIN st ORDER BY grp""".stripMargin

  /** Per-source distinct-shingle cardinality by KMV sketch
    * (Sketches.distinctShingles, k = 256): bounded O(k) aggregation
    * state per group; the oracle rebuilds the same order statistics
    * with a rank window over distinct hashes.
    */
  private val KmvK = 256

  val distinctKmv: Q = (s, dir) =>
    graft.llm.Sketches.distinctShingles(Tables.documents(s, dir), "source", "text", KmvK)
      .orderBy("grp")

  /** Deterministic quantile sketch (Sketches.quantiles): per-source
    * doc-length p50/p90 from a bottom-64-by-hash sample — the
    * approx_percentile shape another engine can replay. The oracle
    * rebuilds the identical sample (same squared-hash key, rank-64
    * window, min-value key-tie rule) and indexes the same order
    * statistics.
    */
  val quantileSketch: Q = (s, dir) =>
    graft.llm.Sketches.quantiles(Tables.documents(s, dir), "source", "doc_id",
        col("n_chars"), k = 64, qs = Seq(0.5, 0.9))
      .orderBy("grp")

  val quantileSketchSql: String =
    s"""WITH keyed AS (
       |  SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v, (h * h) % $P AS key
       |  FROM (SELECT source, n_chars,
       |          ${strhashSql("'qtl:' || CAST(doc_id AS VARCHAR)", "q")} AS h
       |        FROM documents)),
       |dedup AS (SELECT grp, key, min(v) AS v FROM keyed GROUP BY grp, key),
       |topk AS (SELECT grp, v FROM (
       |    SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY key) AS rk FROM dedup)
       |  WHERE rk <= 64),
       |srt AS (SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v) AS vi,
       |    count(*) OVER (PARTITION BY grp) AS m
       |  FROM topk)
       |SELECT grp, CAST(max(m) AS BIGINT) AS n_sample,
       |  max(CASE WHEN vi = CAST(floor(0.5 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p50,
       |  max(CASE WHEN vi = CAST(floor(0.9 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p90
       |FROM srt GROUP BY grp ORDER BY grp""".stripMargin

  /** Robust outlier detection (Sketches.robustOutliers): planted
    * 50× value spikes (event_id % 997) flagged by the per-type
    * median/MAD modified z-score read off the deterministic bottom-128
    * sample. The oracle replays the sample, both lower-median order
    * statistics, and the flag arithmetic.
    */
  val robustOutliersQ: Q = (s, dir) => {
    val seeded = Tables.events(s, dir).select(
      col("event_id"), col("event_type"),
      when(col("event_id") % 997 === 0, col("value") * 50.0)
        .otherwise(col("value")).as("v"))
    graft.llm.Sketches.robustOutliers(seeded, "event_type", "event_id", col("v"),
        k = 128)
      .orderBy("event_id")
  }

  val robustOutliersSql: String =
    s"""WITH seeded AS (SELECT event_id, event_type,
       |    CASE WHEN event_id % 997 = 0 THEN value * 50.0 ELSE value END AS v
       |  FROM events),
       |keyed AS (SELECT grp, vv, (h * h) % $P AS key FROM (
       |    SELECT event_type AS grp, v AS vv,
       |      ${strhashSql("'qtl:' || CAST(event_id AS VARCHAR)", "ro")} AS h
       |    FROM seeded)),
       |dedup AS (SELECT grp, key, min(vv) AS vv FROM keyed GROUP BY 1, 2),
       |topk AS (SELECT grp, vv FROM (
       |    SELECT grp, vv, row_number() OVER (PARTITION BY grp ORDER BY key) AS rk
       |    FROM dedup) WHERE rk <= 128),
       |srt AS (SELECT grp, vv,
       |    row_number() OVER (PARTITION BY grp ORDER BY vv) AS vi,
       |    count(*) OVER (PARTITION BY grp) AS m FROM topk),
       |med AS (SELECT grp, max(m) AS m,
       |    max(CASE WHEN vi = (m + 1) // 2 THEN vv END) AS med
       |  FROM srt GROUP BY grp),
       |dev AS (SELECT s.grp, abs(s.vv - d.med) AS av
       |  FROM srt s JOIN med d USING (grp)),
       |devs AS (SELECT grp, av,
       |    row_number() OVER (PARTITION BY grp ORDER BY av) AS ai,
       |    count(*) OVER (PARTITION BY grp) AS dm FROM dev),
       |mads AS (SELECT grp, max(CASE WHEN ai = (dm + 1) // 2 THEN av END) AS mad
       |  FROM devs GROUP BY grp),
       |stats AS (SELECT med.grp, CAST(med.m AS BIGINT) AS n_sample, med.med, mads.mad
       |  FROM med JOIN mads USING (grp))
       |SELECT e.event_type, e.event_id, e.v AS value, s.n_sample, s.med, s.mad,
       |  round(CAST(0.6745 AS DOUBLE) * (e.v - s.med) / s.mad, 6) AS mz
       |FROM seeded e JOIN stats s ON s.grp = e.event_type
       |WHERE s.mad > 0
       |  AND abs(CAST(0.6745 AS DOUBLE) * (e.v - s.med) / s.mad) > 3.5
       |ORDER BY event_id""".stripMargin

  /** Hierarchical quantile-sketch roll-up (Sketches.quantileRollup):
    * per-(source, lang) bottom-64 samples in PAIRS form, merged to
    * source and corpus level by re-aggregating the pair arrays. The
    * oracle rebuilds every level DIRECTLY from the keyed raw rows
    * (rank-64 windows, min-value key ties), so the hash gate proves
    * merged ≡ direct for the quantile family too.
    */
  val quantileRollup: Q = (s, dir) =>
    graft.llm.Sketches.quantileRollup(Tables.documents(s, dir), "source", "lang",
        "doc_id", col("n_chars"), k = 64, qs = Seq(0.5, 0.9))
      .orderBy("grp")

  val quantileRollupSql: String =
    s"""WITH keyed AS (
       |  SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v, (h * h) % $P AS key
       |  FROM (SELECT source, n_chars,
       |          ${strhashSql("'qtl:' || CAST(doc_id AS VARCHAR)", "q")} AS h
       |        FROM documents)),
       |dedup AS (SELECT grp, key, min(v) AS v FROM keyed GROUP BY grp, key),
       |topk AS (SELECT grp, v FROM (
       |    SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY key) AS rk FROM dedup)
       |  WHERE rk <= 64),
       |tdedup AS (SELECT key, min(v) AS v FROM keyed GROUP BY key),
       |ttopk AS (SELECT 'total' AS grp, v FROM (
       |    SELECT v, row_number() OVER (ORDER BY key) AS rk FROM tdedup)
       |  WHERE rk <= 64),
       |u AS (SELECT grp, v FROM topk UNION ALL SELECT grp, v FROM ttopk),
       |srt AS (SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v) AS vi,
       |    count(*) OVER (PARTITION BY grp) AS m
       |  FROM u)
       |SELECT grp, CAST(max(m) AS BIGINT) AS n_sample,
       |  max(CASE WHEN vi = CAST(floor(0.5 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p50,
       |  max(CASE WHEN vi = CAST(floor(0.9 * (m - 1)) AS BIGINT) + 1 THEN v END) AS p90
       |FROM srt GROUP BY grp ORDER BY grp""".stripMargin

  /** Hierarchical Misra–Gries roll-up (Sketches.topTermsRollup):
    * per-(source, lang) MG sketches merged to source and corpus level
    * by the mergeable-summaries merge aggregate. Every level stays far
    * below counter capacity on this corpus (31 distinct words), so the
    * merge is the exact count sum and the oracle is plain counts + rank
    * at both levels — the same below-capacity exactness contract as
    * q_heavy_hitters; the truncating regime is SketchSpec's job.
    */
  val topTermsRollup: Q = (s, dir) =>
    graft.llm.Sketches.topTermsRollup(Tables.documents(s, dir), "source", "lang", "text",
        sketchK = 256, top = 5)
      .orderBy("grp", "rank")

  val topTermsRollupSql: String =
    """WITH wds AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
      |  FROM documents),
      |ps AS (SELECT source AS grp, w, count(*) AS cnt FROM wds GROUP BY 1, 2),
      |tt AS (SELECT 'total' AS grp, w, CAST(sum(cnt) AS BIGINT) AS cnt FROM ps GROUP BY 2),
      |u AS (SELECT * FROM ps UNION ALL SELECT * FROM tt)
      |SELECT grp, rank, term, cnt FROM (
      |  SELECT grp, w AS term, cnt,
      |    row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, w) AS rank FROM u)
      |WHERE rank <= 5 ORDER BY grp, rank""".stripMargin

  /** Misra–Gries heavy hitters (Sketches.topTermsSketch): per-source
    * top-5 terms from the bounded-counter aggregate. sketchK=256 sits
    * far above any source's distinct-word count (31 at sf0.1), so the
    * sketch is EXACT here and the oracle is a plain count + rank — the
    * same below-capacity exactness contract the KMV oracle pins; the
    * approximate regime is SketchSpec's job.
    */
  /** Skew advisor (Sketches.skewAdvisor): events' hottest event_type
    * keys with row shares and the salting verdict — 5 keys at ~20%
    * each, all far above the 10% one-hot-key-one-straggler threshold.
    * The oracle computes the exact counts (sketchK ≥ distinct keys →
    * the MG sketch is the exact count map, the oracle-pinned regime).
    */
  val skewAdvisorQ: Q = (s, dir) =>
    graft.llm.Sketches.skewAdvisor(Tables.events(s, dir), "event_type",
        sketchK = 64, top = 5)
      .orderBy("rank")

  val skewAdvisorSql: String =
    """SELECT rank, key, cnt, n_rows, round(share, 6) AS share,
      |  share > 0.1 AS salt_recommended
      |FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT) AS rank,
      |    key, cnt, n_rows, CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share
      |  FROM (SELECT event_type AS key, count(*) AS cnt,
      |          (SELECT count(*) FROM events) AS n_rows
      |        FROM events GROUP BY 1))
      |WHERE rank <= 5 ORDER BY rank""".stripMargin

  val heavyHitters: Q = (s, dir) =>
    graft.llm.Sketches.topTermsSketch(Tables.documents(s, dir), "source", "text",
        sketchK = 256, top = 5)
      .orderBy("grp", "rank")

  val heavyHittersSql: String =
    """SELECT grp, rank, term, cnt FROM (
      |  SELECT source AS grp, w AS term, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, w) AS rank
      |  FROM (SELECT source, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
      |        FROM documents)
      |  GROUP BY source, w)
      |WHERE rank <= 5 ORDER BY grp, rank""".stripMargin

  val distinctKmvSql: String = {
    val p = TextOps.P
    s"""WITH $xsCte,
       |gx AS (SELECT DISTINCT d.source AS grp, x
       |       FROM (SELECT doc_id, unnest(xh) AS x FROM xs) e
       |       JOIN documents d USING (doc_id)),
       |mins AS (SELECT grp, x FROM (
       |    SELECT grp, x, row_number() OVER (PARTITION BY grp ORDER BY x) AS rk FROM gx)
       |  WHERE rk <= $KmvK),
       |agg AS (SELECT grp, count(*) AS n_mins, max(x) AS kth FROM mins GROUP BY grp)
       |SELECT grp, n_mins,
       |  CASE WHEN n_mins = $KmvK THEN kth ELSE -1 END AS kth_min,
       |  CASE WHEN n_mins < $KmvK THEN CAST(n_mins AS DOUBLE)
       |       ELSE CAST(${(KmvK - 1).toLong * p} AS DOUBLE) / CAST(kth AS DOUBLE) END AS est_distinct
       |FROM agg ORDER BY grp""".stripMargin
  }

  /** Hierarchical sketch roll-up (Sketches.distinctRollup): KMV
    * sketches built once per (source, lang), then merged to per-source
    * and corpus level by re-aggregating the sketch ARRAYS through the
    * same aggregate — no second corpus scan. The oracle builds every
    * level DIRECTLY from the distinct hashes (rank windows), so the
    * hash gate proves merged ≡ direct: the mergeability contract
    * end-to-end at the query level, not just in SketchSpec.
    */
  val sketchRollup: Q = (s, dir) =>
    graft.llm.Sketches.distinctRollup(
        Tables.documents(s, dir), "source", "lang", "text", KmvK)
      .orderBy("grp")

  val sketchRollupSql: String = {
    val p = TextOps.P
    s"""WITH $xsCte,
       |gx AS (SELECT DISTINCT d.source AS grp, x
       |       FROM (SELECT doc_id, unnest(xh) AS x FROM xs) e
       |       JOIN documents d USING (doc_id)),
       |mins AS (SELECT grp, x FROM (
       |    SELECT grp, x, row_number() OVER (PARTITION BY grp ORDER BY x) AS rk FROM gx)
       |  WHERE rk <= $KmvK),
       |agg AS (SELECT grp, count(*) AS n_mins, max(x) AS kth FROM mins GROUP BY grp),
       |tx AS (SELECT DISTINCT x FROM gx),
       |tmins AS (SELECT x FROM (
       |    SELECT x, row_number() OVER (ORDER BY x) AS rk FROM tx)
       |  WHERE rk <= $KmvK),
       |tagg AS (SELECT 'total' AS grp, count(*) AS n_mins, max(x) AS kth FROM tmins),
       |lv AS (SELECT * FROM agg UNION ALL SELECT * FROM tagg)
       |SELECT grp, n_mins,
       |  CASE WHEN n_mins = $KmvK THEN kth ELSE -1 END AS kth_min,
       |  CASE WHEN n_mins < $KmvK THEN CAST(n_mins AS DOUBLE)
       |       ELSE CAST(${(KmvK - 1).toLong * p} AS DOUBLE) / CAST(kth AS DOUBLE) END AS est_distinct
       |FROM lv ORDER BY grp""".stripMargin
  }

  /** SemDeDup semantic dedup (Similarity.semanticDedup): survivors after
    * dropping, within each IVF cell, every vector with a lower-id
    * cell-mate at cosine >= 0.4.
    */
  val semanticDedup: Q = (s, dir) =>
    Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        minCosine = 0.4, numCentroids = 64)
      .orderBy("vid")

  val semanticDedupSql: String =
    s"""WITH $normCte,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT 64),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |drp AS (
       |  SELECT DISTINCT b.vid AS vid
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
       |  WHERE ${dotSql("a.v", "b.v", 64, "d")} / (a.nrm * b.nrm) >= 0.4)
       |SELECT s.vid, s.cell FROM asg s
       |WHERE s.vid NOT IN (SELECT vid FROM drp) ORDER BY vid""".stripMargin

  /** BPE merge learning (Bpe.learnMerges): 6 tokenizer merges from the
    * corpus word frequencies. The oracle replays every iteration — pair
    * counting, (count desc, l, r) argmax, greedy merge via replace on
    * the double-spaced encoding — so the learned model hash-matches.
    */
  private val BpeSteps = 6

  val bpeMerges: Q = (s, dir) =>
    graft.llm.Bpe.learnMerges(s, Tables.documents(s, dir), "text", BpeSteps)
      .orderBy("step")

  /** The BPE training replay as CTEs: `s{k}` holds (w, freq, sp) after
    * k merges, `b{k}` the k-th learned pair — shared by the merge-table
    * oracle and the model-application (token count) oracle.
    */
  private val bpeCtes: String = {
    val base =
      s"""wf AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
         |    FROM documents)
         |  GROUP BY w),
         |s0 AS (SELECT w, freq,
         |  '  ' || list_reduce(
         |    list_transform(range(1, length(w)+1), ci -> substring(w, CAST(ci AS INT), 1)),
         |    (ca, cb) -> ca || '  ' || cb) || '  ' AS sp
         |  FROM wf)""".stripMargin
    val steps = (1 to BpeSteps).map { k =>
      s"""p$k AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(syms)), pj -> syms[CAST(pj AS INT)])) AS l,
         |      unnest(list_transform(range(1, len(syms)), pj -> syms[CAST(pj+1 AS INT)])) AS r
         |    FROM (SELECT freq, list_filter(string_split(sp, ' '), sx -> sx <> '') AS syms
         |          FROM s${k - 1}))
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r, cnt FROM (
         |    SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rk FROM p$k)
         |  WHERE rk = 1),
         |s$k AS (SELECT w, freq,
         |  CASE WHEN b.l IS NULL THEN sp
         |       ELSE replace(sp, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ')
         |  END AS sp
         |  FROM s${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    s"""$base,
       |${steps.mkString(",\n")}""".stripMargin
  }

  val bpeMergesSql: String = {
    val union = (1 to BpeSteps)
      .map(k => s"""SELECT CAST($k AS BIGINT) AS step, l AS "left", r AS "right", cnt AS pair_count FROM b$k""")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeCtes
       |SELECT * FROM (
       |  $union)
       |ORDER BY step""".stripMargin
  }

  /** Trained-tokenizer token counts (Bpe.tokenCount with the 6 learned
    * merges): the per-doc count after replaying the model — the number
    * sequence packing and budget math would actually use.
    */
  val bpeTokens: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = graft.llm.Bpe.learnMerges(s, docs, "text", BpeSteps)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.llm.Bpe.tokenCount(docs, "doc_id", "text", merges).orderBy("doc")
  }

  val bpeTokensSql: String =
    s"""WITH $bpeCtes
       |SELECT doc_id AS doc,
       |  CAST(sum(len(list_filter(string_split(s.sp, ' '), sx -> sx <> ''))) AS BIGINT) AS bpe_tokens
       |FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
       |      FROM documents) d
       |JOIN s$BpeSteps s USING (w)
       |GROUP BY doc_id ORDER BY doc""".stripMargin

  /** Tokenizer fertility audit per source (Bpe.tokenCount composed
    * with per-doc word counts): BPE tokens emitted per whitespace word
    * — the standard tokenizer-QA number (a slice whose fertility runs
    * hot pays proportionally more sequence length for the same text).
    * Doc-keyed inner join of two linear passes; zero-word docs drop
    * from both engines alike (no token rows to join).
    */
  val bpeFertility: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = graft.llm.Bpe.learnMerges(s, docs, "text", BpeSteps)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val counts = graft.llm.Bpe.tokenCount(docs, "doc_id", "text", merges)
    docs.select(col("doc_id").as("doc"), col("source"),
        size(TextOps.words(col("text"))).cast("long").as("n_words"))
      .join(counts, "doc")
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("words"), sum(col("bpe_tokens")).as("bpe_tokens"))
      .select(col("source"), col("words"), col("bpe_tokens"),
        when(col("words") > 0L,
          round(col("bpe_tokens").cast("double") / col("words").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("fertility"))
      .orderBy("source")
  }

  val bpeFertilitySql: String =
    s"""WITH $bpeCtes,
       |tc AS (
       |  SELECT doc_id,
       |    CAST(sum(len(list_filter(string_split(s.sp, ' '), sx -> sx <> ''))) AS BIGINT)
       |      AS bpe_tokens
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS w
       |        FROM documents) d
       |  JOIN s$BpeSteps s USING (w)
       |  GROUP BY doc_id),
       |wd AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS BIGINT) AS n_words
       |  FROM documents)
       |SELECT source, CAST(sum(n_words) AS BIGINT) AS words,
       |  CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CASE WHEN sum(n_words) > 0 THEN
       |    round(CAST(sum(bpe_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE), 6)
       |  END AS fertility
       |FROM wd JOIN tc USING (doc_id) GROUP BY source ORDER BY source""".stripMargin

  /** The actual token SEQUENCE under the learned vocabulary
    * (Bpe.tokenize on a 1-in-20 doc slice — counts are covered by
    * q_bpe_tokens; this pins token identity AND order): one row per
    * token with its stream position. The oracle re-derives every word's
    * merged symbols from the training-replay CTEs and re-assembles the
    * stream with the same (word position, symbol position) rank.
    */
  val bpeTokenize: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = graft.llm.Bpe.learnMerges(s, docs, "text", BpeSteps)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.llm.Bpe.tokenize(docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", merges)
      .orderBy("doc", "pos")
  }

  val bpeTokenizeSql: String =
    s"""WITH $bpeCtes,
       |dw AS (
       |  SELECT doc_id, u.wp AS wp, u.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
       |      wi -> struct_pack(wp := wi, w := ws[CAST(wi AS INT)]))) AS u
       |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |          FROM documents WHERE doc_id % 20 = 0))),
       |vs AS (SELECT w, list_filter(string_split(sp, ' '), sx -> sx <> '') AS syms
       |       FROM s$BpeSteps),
       |ve AS (
       |  SELECT w, u.spos AS spos, u.token AS token FROM (
       |    SELECT w, unnest(list_transform(range(1, len(syms)+1),
       |      si -> struct_pack(spos := si, token := syms[CAST(si AS INT)]))) AS u
       |    FROM vs)),
       |tk AS (SELECT d.doc_id, d.wp, v.spos, v.token FROM dw d JOIN ve v USING (w))
       |SELECT doc_id AS doc,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wp, spos) AS BIGINT) AS pos,
       |  token
       |FROM tk ORDER BY doc, pos""".stripMargin

  /** Broder containment pairs (Dedup.containmentPairs, cap 20): the
    * asymmetric partial-copy detector — flags pairs where either doc's
    * shingle set is ≥80% inside the other, regardless of Jaccard.
    */
  val containmentPairs: Q = (s, dir) =>
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        minContainment = 0.8, maxShingleDocFreq = 20)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("cont_a"), 6).as("cont_a"), round(col("cont_b"), 6).as("cont_b"))
      .orderBy("doc_a", "doc_b")

  val containmentPairsSql: String =
    s"""WITH $xsCte,
       |exall AS (SELECT doc_id, unnest(xh) AS x FROM xs),
       |freq AS (SELECT x FROM (SELECT x, count(*) AS df FROM exall GROUP BY x) WHERE df <= 20),
       |ex AS (SELECT doc_id, exall.x AS x FROM exall JOIN freq USING (x)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  round(cont_a, 6) AS cont_a, round(cont_b, 6) AS cont_b FROM (
       |  SELECT doc_a, doc_b, inter,
       |    CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a,
       |    CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |WHERE greatest(cont_a, cont_b) >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** Token-budget corpus selection (Selection.selectByBudget): the
    * highest-quality docs until 20k tokens (≈half the sf0.01 corpus,
    * so the cut is exercised at the correctness scale) — exact global
    * prefix cut computed by the two-pass distributed cumsum.
    */
  /** Balanced no-split sharding (Selection.shardBalanced): documents
    * round-robin over ceil(total/budget) shards in (tokens desc, id)
    * order — the oracle replays the rank arithmetic directly.
    */
  val shardBalanced: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.llm.Selection.shardBalanced(
        docs.select(col("doc_id"), col("text")), "doc_id",
        size(TextOps.words(col("text"))), budgetTokens = 15000L)
      .orderBy("doc_id")
  }

  val shardBalancedSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), wx -> wx <> '')) AS BIGINT) AS tokens
      |  FROM documents),
      |tot AS (SELECT greatest(CAST((sum(tokens) + 14999) // 15000 AS BIGINT), 1) AS n_shards
      |        FROM t),
      |r AS (SELECT doc_id, tokens,
      |    CAST(row_number() OVER (ORDER BY tokens DESC, doc_id) AS BIGINT) AS rk
      |  FROM t)
      |SELECT doc_id, tokens, CAST((rk - 1) % n_shards AS BIGINT) AS shard, n_shards
      |FROM r CROSS JOIN tot ORDER BY doc_id""".stripMargin

  val selectBudget: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("quality_score"))
    val joined = docs.select(col("doc_id"), col("text")).join(q, "doc_id")
    graft.llm.Selection.selectByBudget(
        joined, "doc_id", "quality_score",
        size(TextOps.words(col("text"))), budgetTokens = 20000L)
      .orderBy("doc_id")
  }

  val selectBudgetSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH wt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |j AS (
       |  SELECT doc_id,
       |    round(CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) * 0.4
       |      + least(CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) / 10.0, 1.0) * 0.3
       |      + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3, 6)
       |      AS quality_score,
       |    CAST(len(ws) AS BIGINT) AS tokens
       |  FROM wt),
       |o AS (
       |  SELECT doc_id, quality_score, tokens,
       |    CAST(sum(tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM j)
       |SELECT doc_id, quality_score, tokens, cum_tokens
       |FROM o WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin
  }

  /** CCNet perplexity-filter stage (Selection.lmCrossEntropy): a
    * hashed-unigram LM trains on the English reference slice and every
    * doc scores by per-token cross-entropy against it, then buckets
    * head/middle/tail at fixed ln-space thresholds (the CCNet
    * ppl-bucketing, thresholded in ln(ppl) — order-identical). The
    * oracle replays the hash bucketing, the add-one reference model,
    * the per-bucket quantized log-prob, the exact decimal dot product,
    * and the bucket cut.
    */
  val lmPerplexity: Q = (s, dir) =>
    graft.llm.Selection.lmCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", numBuckets = 4096, payloadCols = Seq("source"))
      .select(col("doc_id"), col("is_ref"), col("source"), col("n_tokens"),
        col("cross_entropy"),
        when(col("cross_entropy") < 3.697, "head")
          .when(col("cross_entropy") < 3.704, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")

  val lmPerplexitySql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref, source,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_ref, source, ${strhashSql("w", "d")} % 4096 AS b
       |  FROM (SELECT doc_id, is_ref, source, unnest(ws) AS w FROM wt)),
       |db AS (SELECT doc_id, is_ref, source, b, count(*) AS n FROM tok GROUP BY 1, 2, 3, 4),
       |model AS (SELECT b, CAST(sum(n) AS BIGINT) AS cb FROM db WHERE is_ref GROUP BY 1),
       |tot AS (SELECT coalesce(CAST(sum(cb) AS BIGINT), 0) AS t FROM model),
       |sc AS (SELECT d.doc_id, d.is_ref, d.source, d.n,
       |    CAST(round(ln(CAST(coalesce(m.cb, 0) + 1 AS DOUBLE)
       |      / CAST(t + 4096 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM db d LEFT JOIN model m USING (b) CROSS JOIN tot),
       |ag AS (SELECT doc_id, is_ref, source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS cross_entropy
       |  FROM sc GROUP BY 1, 2, 3)
       |SELECT doc_id, is_ref, source, n_tokens, cross_entropy,
       |  CASE WHEN cross_entropy < 3.697 THEN 'head'
       |       WHEN cross_entropy < 3.704 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM ag ORDER BY doc_id""".stripMargin

  /** Interpolated-bigram LM cross-entropy
    * (Selection.lmCrossEntropy at order 2): the q_lm_perplexity model one
    * Markov order up — ln(0.7·P_bg(w|prev) + 0.3·P_ug(w)) per token,
    * add-one smoothing on both hashed models, reserved start context
    * for each document's first token. The oracle replays the zipped
    * adjacency (list indexing), both models, the shared λ literals,
    * and the quantized log-prob dot product.
    */
  val lmPerplexityBigram: Q = (s, dir) =>
    graft.llm.Selection.lmCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", order = 2, lambdas = Seq(0.7), numBuckets = 4096,
        payloadCols = Seq("source"))
      .orderBy("doc_id")

  val lmPerplexityBigramSql: String = {
    val om = new java.math.BigDecimal(1.0 - 0.7).toPlainString
    val wHash = strhashSql("ws[CAST(pos AS INT)]", "wc")
    val pHash = strhashSql("ws[CAST(pos - 1 AS INT)]", "pc")
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref, source,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_ref, source, $wHash % 4096 AS wb,
       |    CASE WHEN pos = 1 THEN 4096 ELSE $pHash % 4096 END AS pb
       |  FROM (SELECT doc_id, is_ref, source, ws,
       |          unnest(range(1, len(ws)+1)) AS pos FROM wt)),
       |db AS (SELECT doc_id, is_ref, source, wb, pb, count(*) AS n
       |  FROM tok GROUP BY 1, 2, 3, 4, 5),
       |ug AS (SELECT wb, CAST(sum(n) AS BIGINT) AS cb FROM db WHERE is_ref GROUP BY 1),
       |bg AS (SELECT pb, wb, CAST(sum(n) AS BIGINT) AS c2 FROM db WHERE is_ref GROUP BY 1, 2),
       |ctx AS (SELECT pb, CAST(sum(n) AS BIGINT) AS c1 FROM db WHERE is_ref GROUP BY 1),
       |tot AS (SELECT coalesce(CAST(sum(cb) AS BIGINT), 0) AS t FROM ug),
       |sc AS (SELECT d.doc_id, d.is_ref, d.source, d.n,
       |    CAST(round(ln(
       |      CAST(0.7 AS DOUBLE) *
       |        (CAST(coalesce(b.c2, 0) + 1 AS DOUBLE) / CAST(coalesce(c.c1, 0) + 4096 AS DOUBLE))
       |      + CAST($om AS DOUBLE) *
       |        (CAST(coalesce(u.cb, 0) + 1 AS DOUBLE) / CAST(t + 4096 AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS lp
       |  FROM db d
       |  LEFT JOIN bg b ON b.pb = d.pb AND b.wb = d.wb
       |  LEFT JOIN ctx c ON c.pb = d.pb
       |  LEFT JOIN ug u ON u.wb = d.wb
       |  CROSS JOIN tot),
       |ag AS (SELECT doc_id, is_ref, source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS cross_entropy
       |  FROM sc GROUP BY 1, 2, 3)
       |SELECT doc_id, is_ref, source, n_tokens, cross_entropy
       |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Interpolated trigram LM scoring (Selection.lmCrossEntropy at order 3):
    * the q_lm_perplexity_bigram model one more Markov order up —
    * λ3·P_tg + λ2·P_bg + (1−λ3−λ2)·P_ug over the same English
    * reference slice, both opening history slots on the reserved
    * start context. The oracle replays the three hashed models and
    * the shared λ literals.
    */
  val lmPerplexityTrigram: Q = (s, dir) =>
    graft.llm.Selection.lmCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", order = 3, lambdas = Seq(0.5, 0.3), numBuckets = 4096,
        payloadCols = Seq("source"))
      .orderBy("doc_id")

  val lmPerplexityTrigramSql: String = {
    val l1 = new java.math.BigDecimal(1.0 - 0.5 - 0.3).toPlainString
    val wHash = strhashSql("ws[CAST(pos AS INT)]", "wc")
    val pHash = strhashSql("ws[CAST(pos - 1 AS INT)]", "pc")
    val qHash = strhashSql("ws[CAST(pos - 2 AS INT)]", "qc")
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref, source,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_ref, source, $wHash % 4096 AS wb,
       |    CASE WHEN pos = 1 THEN 4096 ELSE $pHash % 4096 END AS pb,
       |    CASE WHEN pos <= 2 THEN 4096 ELSE $qHash % 4096 END AS qb
       |  FROM (SELECT doc_id, is_ref, source, ws,
       |          unnest(range(1, len(ws)+1)) AS pos FROM wt)),
       |db AS (SELECT doc_id, is_ref, source, wb, pb, qb, count(*) AS n
       |  FROM tok GROUP BY 1, 2, 3, 4, 5, 6),
       |ug AS (SELECT wb, CAST(sum(n) AS BIGINT) AS cb FROM db WHERE is_ref GROUP BY 1),
       |bg AS (SELECT pb, wb, CAST(sum(n) AS BIGINT) AS c2 FROM db WHERE is_ref GROUP BY 1, 2),
       |cx1 AS (SELECT pb, CAST(sum(n) AS BIGINT) AS c1 FROM db WHERE is_ref GROUP BY 1),
       |tg AS (SELECT qb, pb, wb, CAST(sum(n) AS BIGINT) AS c3
       |  FROM db WHERE is_ref GROUP BY 1, 2, 3),
       |cx2 AS (SELECT qb, pb, CAST(sum(n) AS BIGINT) AS cc2
       |  FROM db WHERE is_ref GROUP BY 1, 2),
       |tot AS (SELECT coalesce(CAST(sum(cb) AS BIGINT), 0) AS t FROM ug),
       |sc AS (SELECT d.doc_id, d.is_ref, d.source, d.n,
       |    CAST(round(ln(
       |      CAST(0.5 AS DOUBLE) *
       |        (CAST(coalesce(g.c3, 0) + 1 AS DOUBLE) / CAST(coalesce(x2.cc2, 0) + 4096 AS DOUBLE))
       |      + CAST(0.3 AS DOUBLE) *
       |        (CAST(coalesce(b.c2, 0) + 1 AS DOUBLE) / CAST(coalesce(x1.c1, 0) + 4096 AS DOUBLE))
       |      + CAST($l1 AS DOUBLE) *
       |        (CAST(coalesce(u.cb, 0) + 1 AS DOUBLE) / CAST(t + 4096 AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS lp
       |  FROM db d
       |  LEFT JOIN tg g ON g.qb = d.qb AND g.pb = d.pb AND g.wb = d.wb
       |  LEFT JOIN cx2 x2 ON x2.qb = d.qb AND x2.pb = d.pb
       |  LEFT JOIN bg b ON b.pb = d.pb AND b.wb = d.wb
       |  LEFT JOIN cx1 x1 ON x1.pb = d.pb
       |  LEFT JOIN ug u ON u.wb = d.wb
       |  CROSS JOIN tot),
       |ag AS (SELECT doc_id, is_ref, source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS cross_entropy
       |  FROM sc GROUP BY 1, 2, 3)
       |SELECT doc_id, is_ref, source, n_tokens, cross_entropy
       |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Interpolated Kneser–Ney bigram cross-entropy
    * (Selection.lmCrossEntropyKneserNey at order 2): the q_lm_perplexity_bigram
    * model with the smoothing real CCNet-class filters use — absolute
    * discounting (D=0.75) plus continuation-count back-off instead of
    * add-one interpolation. The oracle replays the zipped adjacency,
    * the bigram TYPE table and its context/continuation coarsenings,
    * the fixed IEEE op sequence of the discounted probability, and the
    * quantized log-prob dot product.
    */
  val lmPerplexityKn: Q = (s, dir) =>
    graft.llm.Selection.lmCrossEntropyKneserNey(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", discount = 0.75, numBuckets = 4096,
        payloadCols = Seq("source"))
      .orderBy("doc_id")

  val lmPerplexityKnSql: String = {
    val d = new java.math.BigDecimal(0.75).toPlainString
    val wHash = strhashSql("ws[CAST(pos AS INT)]", "wc")
    val pHash = strhashSql("ws[CAST(pos - 1 AS INT)]", "pc")
    val pcSql = "(CAST(coalesce(u.n1s, 0) + 1 AS DOUBLE) / CAST(t.nt + 4096 AS DOUBLE))"
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref, source,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_ref, source, $wHash % 4096 AS wb,
       |    CASE WHEN pos = 1 THEN 4096 ELSE $pHash % 4096 END AS pb
       |  FROM (SELECT doc_id, is_ref, source, ws,
       |          unnest(range(1, len(ws)+1)) AS pos FROM wt)),
       |db AS (SELECT doc_id, is_ref, source, wb, pb, count(*) AS n
       |  FROM tok GROUP BY 1, 2, 3, 4, 5),
       |bg AS MATERIALIZED (SELECT pb, wb, CAST(sum(n) AS BIGINT) AS c2
       |  FROM db WHERE is_ref GROUP BY 1, 2),
       |ctx AS (SELECT pb, CAST(sum(c2) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1p FROM bg GROUP BY 1),
       |cont AS (SELECT wb, CAST(count(*) AS BIGINT) AS n1s FROM bg GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bg),
       |sc AS (SELECT dd.doc_id, dd.is_ref, dd.source, dd.n,
       |    CAST(round(ln(
       |      CASE WHEN c.c1 IS NOT NULL THEN
       |        greatest(CAST(coalesce(b.c2, 0) AS DOUBLE) - CAST($d AS DOUBLE),
       |            CAST(0 AS DOUBLE)) / CAST(c.c1 AS DOUBLE)
       |        + CAST($d AS DOUBLE) * CAST(c.n1p AS DOUBLE) / CAST(c.c1 AS DOUBLE)
       |          * $pcSql
       |      ELSE $pcSql END), 6) AS DECIMAL(18,6)) AS lp
       |  FROM db dd
       |  LEFT JOIN bg b ON b.pb = dd.pb AND b.wb = dd.wb
       |  LEFT JOIN ctx c ON c.pb = dd.pb
       |  LEFT JOIN cont u ON u.wb = dd.wb
       |  CROSS JOIN tot t),
       |ag AS (SELECT doc_id, is_ref, source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS cross_entropy
       |  FROM sc GROUP BY 1, 2, 3)
       |SELECT doc_id, is_ref, source, n_tokens, cross_entropy
       |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Interpolated Kneser–Ney TRIGRAM cross-entropy
    * (Selection.lmCrossEntropyKneserNey at order 3): the KN ladder's
    * order-3 member — raw-count discounting at the top, continuation
    * TYPE counts below, every table derived from the trigram type
    * table. The oracle replays the trigram adjacency, the six model
    * coarsenings, and the doubly-nested discount sequence.
    */
  val lmPerplexityKn3: Q = (s, dir) =>
    graft.llm.Selection.lmCrossEntropyKneserNey(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", order = 3, discount = 0.75, numBuckets = 4096,
        payloadCols = Seq("source"))
      .orderBy("doc_id")

  val lmPerplexityKn3Sql: String = {
    val d = new java.math.BigDecimal(0.75).toPlainString
    val wHash = strhashSql("ws[CAST(pos AS INT)]", "wc")
    val pHash = strhashSql("ws[CAST(pos - 1 AS INT)]", "pc")
    val qHash = strhashSql("ws[CAST(pos - 2 AS INT)]", "qc")
    val pcSql = "(CAST(coalesce(u.n1s, 0) + 1 AS DOUBLE) / CAST(t.nt + 4096 AS DOUBLE))"
    val p2Sql =
      s"""CASE WHEN x1.m1 IS NOT NULL THEN
         |        greatest(CAST(coalesce(m.c2p, 0) AS DOUBLE) - CAST($d AS DOUBLE),
         |            CAST(0 AS DOUBLE)) / CAST(x1.m1 AS DOUBLE)
         |        + CAST($d AS DOUBLE) * CAST(x1.n1pw AS DOUBLE) / CAST(x1.m1 AS DOUBLE)
         |          * $pcSql
         |      ELSE $pcSql END""".stripMargin
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_ref, source,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_ref, source, $wHash % 4096 AS wb,
       |    CASE WHEN pos = 1 THEN 4096 ELSE $pHash % 4096 END AS pb,
       |    CASE WHEN pos <= 2 THEN 4096 ELSE $qHash % 4096 END AS qb
       |  FROM (SELECT doc_id, is_ref, source, ws,
       |          unnest(range(1, len(ws)+1)) AS pos FROM wt)),
       |db AS (SELECT doc_id, is_ref, source, wb, pb, qb, count(*) AS n
       |  FROM tok GROUP BY 1, 2, 3, 4, 5, 6),
       |tg AS MATERIALIZED (SELECT qb, pb, wb, CAST(sum(n) AS BIGINT) AS c3
       |  FROM db WHERE is_ref GROUP BY 1, 2, 3),
       |ctx2 AS (SELECT qb, pb, CAST(sum(c3) AS BIGINT) AS cc2,
       |    CAST(count(*) AS BIGINT) AS n1p3 FROM tg GROUP BY 1, 2),
       |mid AS MATERIALIZED (SELECT pb, wb, CAST(count(*) AS BIGINT) AS c2p
       |  FROM tg GROUP BY 1, 2),
       |midctx AS (SELECT pb, CAST(sum(c2p) AS BIGINT) AS m1,
       |    CAST(count(*) AS BIGINT) AS n1pw FROM mid GROUP BY 1),
       |cont AS (SELECT wb, CAST(count(*) AS BIGINT) AS n1s FROM mid GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM mid),
       |sc AS (SELECT dd.doc_id, dd.is_ref, dd.source, dd.n,
       |    CAST(round(ln(
       |      CASE WHEN x2.cc2 IS NOT NULL THEN
       |        greatest(CAST(coalesce(g.c3, 0) AS DOUBLE) - CAST($d AS DOUBLE),
       |            CAST(0 AS DOUBLE)) / CAST(x2.cc2 AS DOUBLE)
       |        + CAST($d AS DOUBLE) * CAST(x2.n1p3 AS DOUBLE) / CAST(x2.cc2 AS DOUBLE)
       |          * ($p2Sql)
       |      ELSE ($p2Sql) END), 6) AS DECIMAL(18,6)) AS lp
       |  FROM db dd
       |  LEFT JOIN tg g ON g.qb = dd.qb AND g.pb = dd.pb AND g.wb = dd.wb
       |  LEFT JOIN ctx2 x2 ON x2.qb = dd.qb AND x2.pb = dd.pb
       |  LEFT JOIN mid m ON m.pb = dd.pb AND m.wb = dd.wb
       |  LEFT JOIN midctx x1 ON x1.pb = dd.pb
       |  LEFT JOIN cont u ON u.wb = dd.wb
       |  CROSS JOIN tot t),
       |ag AS (SELECT doc_id, is_ref, source, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    -CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS cross_entropy
       |  FROM sc GROUP BY 1, 2, 3)
       |SELECT doc_id, is_ref, source, n_tokens, cross_entropy
       |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Bradley–Terry preference aggregation (Preference.bradleyTerry):
    * pairwise comparisons derived from the event stream — within each
    * user's timeline, consecutive events of different types duel and
    * the higher `value` wins (ties and same-type pairs skipped) — then
    * 3 MM iterations rate the 5 event types. The oracle replays the
    * lag-window match derivation and the unrolled fixed-point MM fit
    * (Preference.bradleyTerrySql, generated from the same constants).
    */
  /** The shared duel derivation for the preference queries: within
    * each user's timeline, consecutive events of different types duel
    * and the higher value wins (ties and same-type pairs skipped).
    */
  private def eventDuels(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .select(col("event_type").as("cur_t"), col("value").as("cur_v"),
        lag("event_type", 1).over(w).as("prev_t"),
        lag("value", 1).over(w).as("prev_v"))
      .filter(col("prev_t").isNotNull && col("prev_t") =!= col("cur_t") &&
        col("cur_v") =!= col("prev_v"))
      .select(
        when(col("cur_v") > col("prev_v"), col("cur_t"))
          .otherwise(col("prev_t")).as("winner"),
        when(col("cur_v") > col("prev_v"), col("prev_t"))
          .otherwise(col("cur_t")).as("loser"))
  }

  private val eventDuelsSql: String =
    """SELECT CASE WHEN cur_v > prev_v THEN cur_t ELSE prev_t END AS winner,
      |       CASE WHEN cur_v > prev_v THEN prev_t ELSE cur_t END AS loser
      |FROM (SELECT event_type AS cur_t, value AS cur_v,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_t,
      |        lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_v
      |      FROM events)
      |WHERE prev_t IS NOT NULL AND prev_t <> cur_t AND cur_v <> prev_v""".stripMargin

  val preferenceBt: Q = (s, dir) =>
    graft.llm.Preference.bradleyTerry(eventDuels(s, dir), "winner", "loser", iters = 3)
      .orderBy("item")

  val preferenceBtSql: String =
    graft.llm.Preference.bradleyTerrySql(eventDuelsSql, iters = 3)

  /** Wilson lower-bound win rates (Preference.winRates) over the same
    * duels — the conservative single-pass ranking next to the BT fit;
    * small-sample items rank below their raw rate.
    */
  val preferenceWinrate: Q = (s, dir) =>
    graft.llm.Preference.winRates(eventDuels(s, dir), "winner", "loser")
      .orderBy("item")

  val preferenceWinrateSql: String =
    graft.llm.Preference.winRatesSql(eventDuelsSql)

  /** DSIR importance weights (Selection.dsirWeights): English docs play
    * the target slice; every doc scored by the hashed-unigram
    * log-likelihood ratio of the add-one-smoothed target model over
    * the raw model (4096 buckets). The oracle replays the hash
    * bucketing, both models, the per-bucket quantized log ratio, and
    * the exact decimal dot product.
    */
  val dsirWeights: Q = (s, dir) =>
    graft.llm.Selection.dsirWeights(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", numBuckets = 4096)
      .orderBy("doc_id")

  val dsirWeightsSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, (lang = 'en') AS is_target,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, is_target, ${strhashSql("w", "d")} % 4096 AS b
       |  FROM (SELECT doc_id, is_target, unnest(ws) AS w FROM wt)),
       |db AS (SELECT doc_id, is_target, b, count(*) AS n FROM tok GROUP BY 1, 2, 3),
       |model AS (SELECT b,
       |    sum(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
       |    sum(CASE WHEN NOT is_target THEN n ELSE 0 END) AS cr
       |  FROM db GROUP BY 1),
       |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM model),
       |lr AS (SELECT b,
       |    CAST(round(ln(CAST((ct+1)*(r+4096) AS DOUBLE)
       |      / CAST((cr+1)*(t+4096) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
       |  FROM model CROSS JOIN tot)
       |SELECT d.doc_id, d.is_target, CAST(sum(d.n) AS BIGINT) AS n_tokens,
       |  CAST(sum(d.n * l.lr) AS DOUBLE) AS dsir_score
       |FROM db d JOIN lr l USING (b)
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** DSIR importance RESAMPLING end to end (Selection.dsirResample):
    * 6 docs per source drawn ∝ exp(dsir_score) without replacement via
    * the Gumbel top-k identity — exp never materializes, the Gumbel
    * noise rides the deterministic squared-hash uniform, and the
    * per-source rank runs on TopKPerKey heaps. The oracle replays
    * score, noise, and rank with a window.
    */
  val dsirSelect: Q = (s, dir) =>
    graft.llm.Selection.dsirResample(
        s, Tables.documents(s, dir), "doc_id", "text", "source",
        col("lang") === "en", k = 6, numBuckets = 4096)
      .select(col("source"), col("doc_id"), col("is_target"),
        col("n_tokens"), col("dsir_score"))
      .orderBy("source", "doc_id")

  val dsirSelectSql: String =
    s"""WITH wt AS (
       |  SELECT doc_id, source, (lang = 'en') AS is_target,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, source, is_target, ${strhashSql("w", "d")} % 4096 AS b
       |  FROM (SELECT doc_id, source, is_target, unnest(ws) AS w FROM wt)),
       |db AS (SELECT doc_id, source, is_target, b, count(*) AS n
       |       FROM tok GROUP BY 1, 2, 3, 4),
       |model AS (SELECT b,
       |    sum(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
       |    sum(CASE WHEN NOT is_target THEN n ELSE 0 END) AS cr
       |  FROM db GROUP BY 1),
       |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM model),
       |lr AS (SELECT b,
       |    CAST(round(ln(CAST((ct+1)*(r+4096) AS DOUBLE)
       |      / CAST((cr+1)*(t+4096) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
       |  FROM model CROSS JOIN tot),
       |sc AS (SELECT d.doc_id, d.source, d.is_target,
       |    CAST(sum(d.n) AS BIGINT) AS n_tokens,
       |    CAST(sum(d.n * l.lr) AS DOUBLE) AS dsir_score
       |  FROM db d JOIN lr l USING (b) GROUP BY 1, 2, 3),
       |g AS (SELECT *, dsir_score + -ln(-ln(u)) AS gk FROM (
       |  SELECT *, CAST((hv * hv) % 1000000007 + 1 AS DOUBLE) / 1000000008.0 AS u
       |  FROM (SELECT sc.*,
       |          ${strhashSql("'dsir:' || CAST(doc_id AS VARCHAR)", "g")} AS hv
       |        FROM sc)))
       |SELECT source, doc_id, is_target, n_tokens, dsir_score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY gk DESC, doc_id) AS rk FROM g)
       |WHERE rk <= 6 ORDER BY source, doc_id""".stripMargin

  /** Round-4 composite curation chain — the NEW stages composed end to
    * end under one oracle: per-source length trimming → span-dup
    * filter (drop docs >80% copied spans, df computed over the TRIMMED
    * corpus) → quality-ranked 15k-token budget selection → per-source
    * survivor stats. Exercises CorpusFrame.trimLengthOutliers /
    * filterSpanDup / Selection.selectByBudget as one lazy pipeline.
    */
  val curationSelect: Q = (s, dir) => {
    val frame = graft.llm.CorpusFrame(Tables.documents(s, dir), "doc_id", "text")
      .trimLengthOutliers("source", "n_chars", 100, 100)
      .filterSpanDup(maxFraction = 0.8)
    val kept = frame.df
    val q = TextAnalysis.quality(kept, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("quality_score"))
    val selected = graft.llm.Selection.selectByBudget(
      kept.select(col("doc_id"), col("text")).join(q, "doc_id"),
      "doc_id", "quality_score", size(TextOps.words(col("text"))), budgetTokens = 15000L)
    kept.select(col("doc_id"), col("source"))
      .join(selected.select(col("doc_id"), col("tokens")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source")
  }

  val curationSelectSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH rr AS (
       |  SELECT doc_id, source, text, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM documents),
       |trimmed AS (
       |  SELECT doc_id, source, text FROM rr
       |  WHERE rk > (n * 100) // 1000 AND rk <= n - (n * 100) // 1000),
       |twt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM trimmed),
       |tsh AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(ws)-1),
       |      si -> ws[CAST(si AS INT)] || ' ' || ws[CAST(si+1 AS INT)] || ' ' || ws[CAST(si+2 AS INT)]) END AS sg
       |  FROM twt),
       |txs AS (
       |  SELECT doc_id, list_distinct(list_transform(sg, sgv -> ${strhashSql("sgv", "h")})) AS xh
       |  FROM tsh),
       |tex AS (SELECT doc_id, unnest(xh) AS x FROM txs),
       |tdf AS (SELECT x, count(*) AS df FROM tex GROUP BY x),
       |dupf AS (
       |  SELECT tex.doc_id AS doc_id,
       |    CAST(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS dup_fraction
       |  FROM tex JOIN tdf USING (x) GROUP BY tex.doc_id),
       |kept AS (
       |  SELECT t.doc_id, t.source, t.text, w.ws FROM trimmed t
       |  JOIN twt w ON w.doc_id = t.doc_id
       |  LEFT JOIN dupf f ON f.doc_id = t.doc_id
       |  WHERE COALESCE(f.dup_fraction, 0) <= 0.8),
       |scored AS (
       |  SELECT doc_id, source,
       |    round(CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) * 0.4
       |      + least(CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) / 10.0, 1.0) * 0.3
       |      + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3, 6)
       |      AS quality_score,
       |    CAST(len(ws) AS BIGINT) AS tokens
       |  FROM kept),
       |sel AS (
       |  SELECT doc_id, source, tokens,
       |    CAST(sum(tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM scored)
       |SELECT source, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS sum_tokens,
       |  min(doc_id) AS first_doc
       |FROM sel WHERE cum_tokens <= 15000
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** Boilerplate-span discovery: the 20 most document-frequent shingle
    * spans (the candidates a template/boilerplate filter would strip).
    * Explode + count with map-side combine, global top-k via
    * TakeOrderedAndProject — no full sort; ties break by hash.
    */
  val boilerplate: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.shingleHashes(col("text"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("x"))
      .limit(20)
      // rank without WindowExec — same warning-free single-partition
      // numbering as Relevance.bm25's final rank
      .coalesce(1)
      .sortWithinPartitions(col("df").desc, col("x"))
      .select(
        (monotonically_increasing_id() + 1).cast("long").as("rank"),
        col("x"), col("df"))

  val boilerplateSql: String =
    s"""WITH $xsCte,
       |ex AS (SELECT doc_id, unnest(xh) AS x FROM xs),
       |dfq AS (SELECT x, count(*) AS df FROM ex GROUP BY x)
       |SELECT rank, x, df FROM (
       |  SELECT x, df, row_number() OVER (ORDER BY df DESC, x) AS rank FROM dfq)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** Curation funnel — the per-stage survivor counts of the
    * [[curationSelect]] chain (raw → trimmed → span-filtered →
    * budget-selected): the observability row a pipeline prints per run.
    * The span-filtered prefix feeds three downstream actions (its own
    * count, the quality join, the budget selection), so it
    * materializes once ([[graft.llm.CorpusFrame.materialize]]) instead
    * of re-running trim + span-dup profiling per stage count.
    */
  val curationFunnel: Q = (s, dir) => {
    val raw = Tables.documents(s, dir)
    val trimmed = graft.llm.CorpusFrame(raw, "doc_id", "text")
      .trimLengthOutliers("source", "n_chars", 100, 100)
    val spanned = trimmed.filterSpanDup(maxFraction = 0.8).materialize()
    val q = TextAnalysis.quality(spanned.df, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("quality_score"))
    val selected = graft.llm.Selection.selectByBudget(
      spanned.df.select(col("doc_id"), col("text")).join(q, "doc_id"),
      "doc_id", "quality_score", size(TextOps.words(col("text"))), budgetTokens = 15000L)
    val stages = Seq(
      ("1_raw", raw.select(col("doc_id"))),
      ("2_trimmed", trimmed.df.select(col("doc_id"))),
      ("3_span_filtered", spanned.df.select(col("doc_id"))),
      ("4_selected", selected.select(col("doc_id"))))
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    }.reduce(_.unionByName(_)).orderBy("stage")
  }

  val curationFunnelSql: String = {
    val stop = TextAnalysis.EnStopwords.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH rr AS (
       |  SELECT doc_id, source, text, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM documents),
       |trimmed AS (
       |  SELECT doc_id, source, text FROM rr
       |  WHERE rk > (n * 100) // 1000 AND rk <= n - (n * 100) // 1000),
       |twt AS (
       |  SELECT doc_id, text, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM trimmed),
       |tsh AS (
       |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(ws)-1),
       |      si -> ws[CAST(si AS INT)] || ' ' || ws[CAST(si+1 AS INT)] || ' ' || ws[CAST(si+2 AS INT)]) END AS sg
       |  FROM twt),
       |txs AS (
       |  SELECT doc_id, list_distinct(list_transform(sg, sgv -> ${strhashSql("sgv", "h")})) AS xh
       |  FROM tsh),
       |tex AS (SELECT doc_id, unnest(xh) AS x FROM txs),
       |tdf AS (SELECT x, count(*) AS df FROM tex GROUP BY x),
       |dupf AS (
       |  SELECT tex.doc_id AS doc_id,
       |    CAST(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS dup_fraction
       |  FROM tex JOIN tdf USING (x) GROUP BY tex.doc_id),
       |kept AS (
       |  SELECT t.doc_id, w.ws, t.text FROM trimmed t
       |  JOIN twt w ON w.doc_id = t.doc_id
       |  LEFT JOIN dupf f ON f.doc_id = t.doc_id
       |  WHERE COALESCE(f.dup_fraction, 0) <= 0.8),
       |scored AS (
       |  SELECT doc_id,
       |    round(CAST(len(list_filter(ws, sw -> list_contains($stop, sw))) AS DOUBLE) / len(ws) * 0.4
       |      + least(CAST(list_sum(list_transform(ws, lw -> length(lw))) AS DOUBLE) / len(ws) / 10.0, 1.0) * 0.3
       |      + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3, 6)
       |      AS quality_score,
       |    CAST(len(ws) AS BIGINT) AS tokens
       |  FROM kept),
       |sel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      CAST(sum(tokens) OVER (ORDER BY quality_score DESC, doc_id
       |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |    FROM scored)
       |  WHERE cum_tokens <= 15000)
       |SELECT stage, n_docs FROM (
       |  SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
       |  UNION ALL SELECT '2_trimmed', count(*) FROM trimmed
       |  UNION ALL SELECT '3_span_filtered', count(*) FROM kept
       |  UNION ALL SELECT '4_selected', count(*) FROM sel)
       |ORDER BY stage""".stripMargin
  }

  /** Dup-cluster size histogram — the dedup audit summary (how much of
    * the corpus sits in clusters of what size): connected components
    * over the minhash pairs, then two small aggregates. At scale both
    * aggregates are map-side-combined shuffles over O(clustered docs).
    */
  val dedupHistogram: Q = (s, dir) =>
    Graph.connectedComponents(
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.6),
        "doc_a", "doc_b")
      .groupBy(col("component")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      .orderBy("csize")

  val dedupHistogramSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |${Graph.componentsCtes("mh", "doc_a", "doc_b", "")},
       |cs AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
       |SELECT csize, count(*) AS n_clusters, CAST(sum(csize) AS BIGINT) AS n_docs
       |FROM cs GROUP BY csize ORDER BY csize""".stripMargin

  // ------------------------------------------------------ classification

  /** Multinomial Naive Bayes language classifier
    * (Classify.nbTrainScore): train on the corpus's own `lang` labels,
    * score every document, emit (doc, actual, pred, score) — the
    * in-engine "quality/domain classifier" stage of the curation
    * recipe, with closed-form training so the full train→score chain
    * has an exact oracle. Every ln lands once per model row under the
    * per-term round(,6)→DECIMAL→exact-sum discipline.
    */
  val nbClassify: Q = (s, dir) =>
    graft.llm.Classify.nbTrainScore(s, Tables.documents(s, dir), "doc_id", "text", "lang")
      .orderBy("doc")

  val nbClassifySql: String =
    s"""WITH base AS (
       |  SELECT doc_id AS doc, lang AS actual,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
       |  FROM documents),
       |tf AS (
       |  SELECT doc, actual, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, actual, unnest(ws) AS wd FROM base) u
       |  GROUP BY 1, 2, 3),
       |ct AS (
       |  SELECT actual AS label, term, CAST(sum(tf) AS BIGINT) AS cnt
       |  FROM tf GROUP BY 1, 2),
       |tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM ct GROUP BY 1),
       |voc AS (SELECT count(DISTINCT term) AS v FROM ct),
       |nd AS (SELECT count(*) AS n FROM base),
       |pri AS (
       |  SELECT actual AS label,
       |    CAST(round(ln(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS lp
       |  FROM base CROSS JOIN nd GROUP BY actual, n),
       |model AS (
       |  SELECT t.label, vt.term,
       |    CAST(round(ln((CAST(coalesce(ct.cnt, 0) AS DOUBLE) + 1.0) /
       |      (CAST(t.tot AS DOUBLE) + CAST(voc.v AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS llh
       |  FROM (SELECT DISTINCT term FROM ct) vt
       |  CROSS JOIN tot t
       |  LEFT JOIN ct ON ct.label = t.label AND ct.term = vt.term
       |  CROSS JOIN voc),
       |scored AS (
       |  SELECT tf.doc, m.label, pri.lp + sum(CAST(tf.tf AS DECIMAL(18,0)) * m.llh) AS total
       |  FROM tf JOIN model m USING (term) JOIN pri ON pri.label = m.label
       |  GROUP BY tf.doc, m.label, pri.lp),
       |best AS (
       |  SELECT doc, label AS pred_t, total FROM (
       |    SELECT doc, label, total,
       |      row_number() OVER (PARTITION BY doc ORDER BY total DESC, label) AS rk
       |    FROM scored)
       |  WHERE rk = 1),
       |fb AS (SELECT label AS fb_label, lp AS fb_lp FROM pri
       |       ORDER BY lp DESC, label LIMIT 1)
       |SELECT base.doc, base.actual,
       |  coalesce(best.pred_t, fb.fb_label) AS pred,
       |  coalesce(CAST(best.total AS DOUBLE), CAST(fb.fb_lp AS DOUBLE)) AS score
       |FROM base LEFT JOIN best ON base.doc = best.doc CROSS JOIN fb
       |ORDER BY base.doc""".stripMargin

  /** Classification eval metrics (Classify.evalMetrics): per-class
    * precision/recall/F1 + the (macro)/(micro) summary rows, grading
    * the NB classifier's predictions against the corpus labels — the
    * classification twin of q_ann_eval's rankingMetrics (VERDICT r9
    * item 6). One contingency aggregate over the scored frame (exact
    * integer counts), single-division metrics, quantized-decimal
    * macro means; the oracle nests the full nbClassifySql replay
    * under the shared evalMetricsSql.
    */
  val nbEval: Q = (s, dir) =>
    graft.llm.Classify.evalMetrics(s,
        graft.llm.Classify.nbTrainScore(s, Tables.documents(s, dir),
          "doc_id", "text", "lang"))
      .orderBy("label")

  val nbEvalSql: String =
    graft.llm.Classify.evalMetricsSql(nbClassifySql)

  /** HELD-OUT classification eval (Classify.nbTrainApply +
    * evalMetrics): train the NB model on the doc_id % 5 ≠ 0 slice,
    * score the held-out % 5 = 0 slice, grade the confusion — the
    * generalization number next to q_nb_eval's training-set one.
    * Out-of-train-vocabulary apply tokens drop at score time (the
    * multinomial OOV policy), fully-OOV docs fall back to the train
    * prior; the oracle replays the split train→apply chain under the
    * shared evalMetricsSql.
    */
  val nbEvalHoldout: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.llm.Classify.evalMetrics(s,
        graft.llm.Classify.nbTrainApply(s,
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "lang"))
      .orderBy("label")
  }

  private val nbHoldoutScoredSql: String =
    s"""WITH gw AS (
       |  SELECT doc_id AS doc, lang AS actual,
       |    list_filter(string_split(text, ' '), wx -> wx <> '') AS ws, doc_id
       |  FROM documents),
       |btr AS (SELECT doc, actual, ws FROM gw WHERE doc_id % 5 <> 0),
       |bap AS (SELECT doc, actual, ws FROM gw WHERE doc_id % 5 = 0),
       |tft AS (
       |  SELECT doc, actual, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, actual, unnest(ws) AS wd FROM btr) u GROUP BY 1, 2, 3),
       |tfa AS (
       |  SELECT doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc, unnest(ws) AS wd FROM bap) u GROUP BY 1, 2),
       |ct AS (
       |  SELECT actual AS label, term, CAST(sum(tf) AS BIGINT) AS cnt
       |  FROM tft GROUP BY 1, 2),
       |tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM ct GROUP BY 1),
       |voc AS (SELECT count(DISTINCT term) AS v FROM ct),
       |nd AS (SELECT count(*) AS n FROM btr),
       |pri AS (
       |  SELECT actual AS label,
       |    CAST(round(ln(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS lp
       |  FROM btr CROSS JOIN nd GROUP BY actual, n),
       |model AS (
       |  SELECT t.label, vt.term,
       |    CAST(round(ln((CAST(coalesce(ct.cnt, 0) AS DOUBLE) + 1.0) /
       |      (CAST(t.tot AS DOUBLE) + CAST(voc.v AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS llh
       |  FROM (SELECT DISTINCT term FROM ct) vt
       |  CROSS JOIN tot t
       |  LEFT JOIN ct ON ct.label = t.label AND ct.term = vt.term
       |  CROSS JOIN voc),
       |scored AS (
       |  SELECT tfa.doc, m.label, pri.lp + sum(CAST(tfa.tf AS DECIMAL(18,0)) * m.llh) AS total
       |  FROM tfa JOIN model m USING (term) JOIN pri ON pri.label = m.label
       |  GROUP BY tfa.doc, m.label, pri.lp),
       |best AS (
       |  SELECT doc, label AS pred_t, total FROM (
       |    SELECT doc, label, total,
       |      row_number() OVER (PARTITION BY doc ORDER BY total DESC, label) AS rk
       |    FROM scored)
       |  WHERE rk = 1),
       |fb AS (SELECT label AS fb_label, lp AS fb_lp FROM pri
       |       ORDER BY lp DESC, label LIMIT 1)
       |SELECT bap.doc, bap.actual,
       |  coalesce(best.pred_t, fb.fb_label) AS pred,
       |  coalesce(CAST(best.total AS DOUBLE), CAST(fb.fb_lp AS DOUBLE)) AS score
       |FROM bap LEFT JOIN best ON bap.doc = best.doc CROSS JOIN fb""".stripMargin

  val nbEvalHoldoutSql: String =
    graft.llm.Classify.evalMetricsSql(nbHoldoutScoredSql)

  /** Top-50 term collocations by document-level PMI
    * (TextAnalysis.pmiPairs): presence-count association mining with
    * the fractional hub-term cap and a min-support floor. Integer
    * counts throughout; the one ln per output pair is quantized
    * round(6)→DECIMAL before ranking.
    */
  val pmiPairs: Q = (s, dir) =>
    graft.llm.TextAnalysis.pmiPairs(Tables.documents(s, dir), "doc_id", "text",
      maxDfFrac = 0.9, minPairDocs = 5, k = 50)

  val pmiPairsSql: String =
    s"""WITH present AS (
       |  SELECT DISTINCT doc_id AS doc, wd AS term
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS wd
       |        FROM documents) u),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |dfq AS (
       |  SELECT term, count(*) AS df FROM present GROUP BY term
       |  HAVING CAST(count(*) AS DOUBLE) <= (SELECT CAST(n_docs AS DOUBLE) FROM nd) * 0.9),
       |kept AS (SELECT p.doc, p.term, dfq.df FROM present p JOIN dfq USING (term)),
       |pairs AS (
       |  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
       |    count(*) AS pair_docs
       |  FROM kept a JOIN kept b ON a.doc = b.doc AND a.term < b.term
       |  GROUP BY 1, 2, 3, 4
       |  HAVING count(*) >= 5)
       |SELECT term_a, term_b, pair_docs, df_a, df_b, CAST(pmi_d AS DOUBLE) AS pmi
       |FROM (
       |  SELECT *, CAST(round(ln(CAST(n_docs AS DOUBLE) * CAST(pair_docs AS DOUBLE) /
       |      (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 6) AS DECIMAL(18,6)) AS pmi_d
       |  FROM pairs CROSS JOIN nd)
       |ORDER BY pmi_d DESC, term_a, term_b LIMIT 50""".stripMargin

  /** Hybrid search (Relevance.rrfFuse): the BM25 lexical top-20 and a
    * brute-cosine semantic top-20 (query = vector 0, ids shared with
    * doc_id) fused by reciprocal-rank fusion with k0 = 60 — the
    * calibration-free combiner; reciprocals quantize round(6)→DECIMAL
    * before the exact fused sum (denominators 61..80 never land on a
    * rounding boundary: the only power-of-2·5 values in range, 64 and
    * 80, terminate within 6 digits).
    */
  private val HybridTerms: Seq[String] = Seq("merge", "sort", "query")

  val hybridSearch: Q = (s, dir) => {
    val lex = graft.llm.Relevance.bm25(s, Tables.documents(s, dir), "doc_id", "text",
        HybridTerms, k = 20)
      .select(col("doc"), col("rank"))
    val sem = Similarity.bruteTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryPred = col("vid") === 0, k = 20)
      .select(col("nid").as("doc"), col("rank").cast("long").as("rank"))
    graft.llm.Relevance.rrfFuse(Seq(lex, sem), k0 = 60, k = 10)
  }

  val hybridSearchSql: String =
    s"""WITH lex AS (SELECT doc, rank FROM (${bm25Sql(HybridTerms, 20)}) bq),
       |$normCte,
       |sem AS (
       |  SELECT nid AS doc, rank FROM (
       |    SELECT b.vec_id AS nid,
       |      row_number() OVER (
       |        ORDER BY ${dotSql("q.v", "b.v", 64, "r")} / (q.nrm * b.nrm) DESC, b.vec_id) AS rank
       |    FROM n q JOIN n b ON q.vec_id = 0 AND b.vec_id <> q.vec_id)
       |  WHERE rank <= 20),
       |u AS (
       |  SELECT doc, CAST(round(1.0 / (rank + 60), 6) AS DECIMAL(18,6)) AS rr FROM lex
       |  UNION ALL
       |  SELECT doc, CAST(round(1.0 / (rank + 60), 6) AS DECIMAL(18,6)) FROM sem),
       |f AS (SELECT doc, sum(rr) AS fused_d, count(*) AS n_lists FROM u GROUP BY 1)
       |SELECT rank, doc, n_lists, fused FROM (
       |  SELECT row_number() OVER (ORDER BY fused_d DESC, doc) AS rank, doc,
       |    CAST(n_lists AS BIGINT) AS n_lists, CAST(fused_d AS DOUBLE) AS fused
       |  FROM f)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Hybrid search over the PERSISTED index pair — the serving-path
    * composition (VERDICT r9 item 4): lexical top-20 from the
    * bucket-pruned inverted index ([[graft.llm.TextIndex.probe]]),
    * semantic top-20 from the cell-pruned IVF index
    * ([[graft.llm.IvfIndex.probe]], query = vector 0, 4 probes), fused
    * by the same RRF k0 = 60 tail as q_hybrid_search. Both probes are
    * pure storage re-layouts of their one-job twins, so the oracle
    * reuses the two probe replicas (bm25Sql, the IVF cell-routing CTEs)
    * under the shared fusion SQL — proving the persisted pair serves
    * the same hybrid ranking end to end.
    */
  val hybridIndex: Q = (s, dir) => {
    // ONE fixed path per index, overwritten per invocation (the ADVICE
    // r6 anti-leak rule — Bench min-of-3 must not accumulate trees)
    val tIdx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-hybrid-text-q").toString
    graft.llm.TextIndex.write(Tables.documents(s, dir), "doc_id", "text",
      tIdx, nBuckets = 16)
    val vIdx = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-hybrid-ivf-q").toString
    graft.llm.IvfIndex.write(Tables.embeddings(s, dir), "vec_id", "embedding",
      vIdx, numCentroids = 64)
    val lex = graft.llm.TextIndex.probe(s, tIdx, HybridTerms, k = 20)
      .select(col("doc"), col("rank"))
    val sem = graft.llm.IvfIndex.probe(s, vIdx,
        Tables.embeddings(s, dir).filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 20, nProbe = 4)
      .select(col("nid").as("doc"), col("rank").cast("long").as("rank"))
    graft.llm.Relevance.rrfFuse(Seq(lex, sem), k0 = 60, k = 10)
  }

  val hybridIndexSql: String =
    s"""WITH lex AS (SELECT doc, rank FROM (${bm25Sql(HybridTerms, 20)}) bq),
       |$normCte,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  ORDER BY ${strhashSql("CAST(vec_id AS VARCHAR)", "ch")}, vec_id LIMIT 64),
       |rk AS (
       |  SELECT n.vec_id AS vid, n.v AS v, n.nrm AS nrm, c.cid AS cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${dotSql("n.v", "c.cv", 64, "a")} / (n.nrm * c.cn) DESC, c.cid) AS crk
       |  FROM n, c),
       |asg AS (SELECT vid, v, nrm, cell FROM rk WHERE crk = 1),
       |qv AS (SELECT vid AS qid, v AS qv, nrm AS qn, cell FROM rk
       |      WHERE crk <= 4 AND vid = 0),
       |sem AS (
       |  SELECT nid AS doc, rank FROM (
       |    SELECT b.vid AS nid,
       |      row_number() OVER (
       |        ORDER BY ${dotSql("qv.qv", "b.v", 64, "r")} / (qv.qn * b.nrm) DESC, b.vid) AS rank
       |    FROM qv JOIN asg b ON b.cell = qv.cell AND b.vid <> qv.qid)
       |  WHERE rank <= 20),
       |u AS (
       |  SELECT doc, CAST(round(1.0 / (rank + 60), 6) AS DECIMAL(18,6)) AS rr FROM lex
       |  UNION ALL
       |  SELECT doc, CAST(round(1.0 / (rank + 60), 6) AS DECIMAL(18,6)) FROM sem),
       |f AS (SELECT doc, sum(rr) AS fused_d, count(*) AS n_lists FROM u GROUP BY 1)
       |SELECT rank, doc, n_lists, fused FROM (
       |  SELECT row_number() OVER (ORDER BY fused_d DESC, doc) AS rank, doc,
       |    CAST(n_lists AS BIGINT) AS n_lists, CAST(fused_d AS DOUBLE) AS fused
       |  FROM f)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Corpus-wide top-25 word bigrams with occurrence and document
    * frequencies — the WIMBD n-gram count report one order above
    * q_top_terms (docs under two words contribute nothing; no
    * whole-text fallback, unlike the SimHash feature bigrams).
    */
  val topBigrams: Q = (s, dir) => {
    // the token array must MATERIALIZE before the transform lambda
    // references it three times — CollapseProject would re-inline
    // words(text) into the lambda body and re-tokenize per bigram
    // (repo invariant; measured 3.7s → sub-second here)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .localCheckpoint(false)
    val w = col("ws")
    val bg = when(size(w) < 2, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(w) - 2),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))))
    base
      .select(col("doc_id"), explode(bg).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(25)
  }

  val topBigramsSql: String =
    """WITH wt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), wx -> wx <> '') AS ws
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    bi -> ws[CAST(bi AS INT)] || ' ' || ws[CAST(bi + 1 AS INT)])) AS bigram
      |  FROM wt)
      |SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
      |FROM u GROUP BY 1 ORDER BY n DESC, bigram LIMIT 25""".stripMargin

  /** Greedy max-coverage selection (Selection.greedyCoverage): the 5
    * documents whose union covers the most distinct shingles, with
    * marginal gains and the running total. The oracle unrolls the 5
    * greedy rounds as covered-set CTEs over the shared shingle-hash
    * machinery.
    */
  val selectCoverage: Q = (s, dir) =>
    graft.llm.Selection.greedyCoverage(s, Tables.documents(s, dir), "doc_id", "text", k = 5)

  val selectCoverageSql: String = {
    val rounds = 5
    val sb = new StringBuilder
    sb.append(
      s"""WITH $xsCte,
         |shq AS (SELECT doc_id AS doc, unnest(xh) AS h FROM xs),
         |c0 AS (SELECT CAST(NULL AS BIGINT) AS h WHERE 1 = 0)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(
        s""",
           |w$i AS (
           |  SELECT doc, count(*) AS gain FROM shq
           |  WHERE h NOT IN (SELECT h FROM c${i - 1})
           |  GROUP BY doc ORDER BY gain DESC, doc LIMIT 1),
           |c$i AS (SELECT h FROM c${i - 1}
           |        UNION SELECT shq.h FROM shq JOIN w$i USING (doc))""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to rounds).map(i =>
      s"""SELECT $i AS round, doc, gain,
         |  (SELECT count(*) FROM c$i) AS covered_total FROM w$i""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY round"))
    sb.toString
  }

  /** Text near-dup through the EMBEDDING path
    * (TextAnalysis.textSemanticDedup): feature-hashed sign-TF vectors →
    * Similarity.semanticDedup — the SemDeDup recipe with the hashing
    * trick standing in for a learned encoder, completing the
    * image/audio/text modality triangle on one shared dedup tail. The
    * oracle replays the hashed vectors (integer sums via the strhash
    * replica) into the shared semanticDedup tail.
    */
  private val TvDims = 32
  private val TvCentroids = 16
  private val TvCosine = 0.95

  val textVecNearDup: Q = (s, dir) =>
    graft.llm.TextAnalysis.textSemanticDedup(Tables.documents(s, dir), "doc_id", "text",
        minCosine = TvCosine, numCentroids = TvCentroids, dims = TvDims)
      .orderBy("vid")

  val textVecNearDupSql: String =
    s"""WITH tfq AS (
       |  SELECT doc_id AS doc, wd AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), wx -> wx <> '')) AS wd
       |        FROM documents) u
       |  GROUP BY 1, 2),
       |cells AS (
       |  SELECT doc, ${strhashSql("term", "tv")} % $TvDims AS j,
       |    CAST(sum((CASE WHEN ${strhashSql("'s' || term", "sv")} % 2 = 0
       |      THEN 1 ELSE -1 END) * tf) AS BIGINT) AS f
       |  FROM tfq GROUP BY 1, 2),
       |grid AS (SELECT doc, j FROM (SELECT DISTINCT doc FROM tfq) dg, range(0, $TvDims) t(j)),
       |vecs AS (
       |  SELECT g.doc AS vec_id, list(CAST(coalesce(c.f, 0) AS DOUBLE) ORDER BY g.j) AS v
       |  FROM grid g LEFT JOIN cells c ON g.doc = c.doc AND g.j = c.j
       |  GROUP BY g.doc),
       |${semanticDedupTailSql(TvDims, TvCentroids, TvCosine)}""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> dedupExact,
    "q_dedup_minhash" -> dedupMinhash,
    "q_winnow_pairs" -> winnowPairs,
    "q_dedup_clusters" -> dedupClusters,
    "q_dedup_canonical" -> dedupCanonical,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_jaccard" -> dedupJaccard,
    "q_dedup_jaccard_capped" -> dedupJaccardCapped,
    "q_dedup_against_pairs" -> dedupAgainstPairs,
    "q_dedup_against_bloomed" -> dedupAgainstBloomed,
    "q_dedup_incremental" -> dedupIncremental,
    "q_dedup_bloom_gate" -> dedupBloomGate,
    "q_dedup_normalized" -> dedupNormalized,
    "q_line_dedup" -> lineDedupQ,
    "q_lm_commonness" -> lmCommonness,
    "q_source_overlap" -> sourceOverlap,
    "q_split_assign" -> splitAssign,
    "q_split_leakage_safe" -> splitLeakageSafe,
    "q_curation_pipeline" -> curationPipeline,
    "q_top_terms" -> topTerms,
    "q_tfidf_terms" -> tfidfTerms,
    "q_bm25_search" -> bm25Search,
    "q_ql_search" -> qlSearch,
    "q_ann_ivf_health" -> annIvfHealth,
    "q_text_simhash" -> textSimhash,
    "q_embed_neardup" -> embedNearDup,
    "q_label_centroids" -> labelCentroids,
    "q_ann_topk" -> annTopK,
    "q_hard_negatives" -> hardNegativesQ,
    "q_ann_sq8" -> annSq8,
    "q_ann_topk_plan" -> annTopKPlan,
    "q_ann_lsh" -> annLsh,
    "q_ann_eval" -> annEval,
    "q_ann_mmr" -> annMmr,
    "q_ann_shootout" -> annShootout,
    "q_ann_lsh_probe" -> annLshProbe,
    "q_ann_lsh_learned" -> annLshLearned,
    "q_ann_ivf" -> annIvf,
    "q_ann_ivf_index" -> annIvfIndex,
    "q_ann_ivf_index_refined" -> annIvfIndexRefined,
    "q_ann_ivf_sq8" -> annIvfSq8,
    "q_ann_pq" -> annPq,
    "q_ann_ivf_pq" -> annIvfPq,
    "q_ann_ivf_kmeans" -> annIvfKmeans,
    "q_text_lang" -> textLang,
    "q_text_quality" -> textQuality,
    "q_quality_lr" -> qualityLr,
    "q_quality_lr_holdout" -> qualityLrHoldout,
    "q_quality_lr_calibration" -> qualityLrCalibration,
    "q_quality_lr_isotonic" -> qualityLrIsotonic,
    "q_quality_lr_isotonic_by_src" -> qualityLrIsotonicBySrc,
    "q_quality_lr_auc" -> qualityLrAuc,
    "q_quality_kappa" -> qualityKappa,
    "q_quality_rules" -> qualityRules,
    "q_text_repetition" -> textRepetition,
    "q_decontaminate" -> decontaminate,
    "q_sample_quota" -> sampleQuota,
    "q_sample_stratified" -> sampleStratified,
    "q_sample_weighted" -> sampleWeighted,
    "q_pack_sequences" -> packSequences,
    "q_rouge_lead" -> rougeLead,
    "q_text_tokens" -> textTokens,
    "q_text_fingerprint" -> textFingerprint,
    "q_mm_decode" -> mmDecode,
    "q_mm_image" -> mmImage,
    "q_mm_image_png" -> mmImagePng,
    "q_mm_audio" -> mmAudio,
    "q_mm_audio_ulaw" -> mmAudioUlaw,
    "q_mm_audio_neardup" -> mmAudioNearDup,
    "q_mm_frames" -> mmFrames,
    "q_mm_neardup" -> mmNearDup,
    "q_mm_neardup_png" -> mmNearDupPng,
    "q_dup_spans" -> dupSpans,
    "q_span_removal" -> spanRemoval,
    "q_span_removal_runs" -> spanRemovalRuns,
    "q_dup_lines" -> dupLines,
    "q_mixture_weights" -> mixtureWeights,
    "q_mixture_unimax" -> mixtureUnimax,
    "q_mixture_materialize" -> mixtureMaterialize,
    "q_training_order" -> trainingOrderQ,
    "q_training_run" -> trainingRun,
    "q_join_estimate" -> joinEstimate,
    "q_source_divergence" -> sourceDivergence,
    "q_length_trim" -> lengthTrim,
    "q_chunk_docs" -> chunkDocs,
    "q_pii_redact" -> piiRedact,
    "q_cc_detect" -> ccDetectQ,
    "q_release_gate" -> releaseGate,
    "q_lang_confusion" -> langConfusion,
    "q_distinct_kmv" -> distinctKmv,
    "q_sketch_rollup" -> sketchRollup,
    "q_quantile_rollup" -> quantileRollup,
    "q_topterms_rollup" -> topTermsRollup,
    "q_heavy_hitters" -> heavyHitters,
    "q_skew_advisor" -> skewAdvisorQ,
    "q_cms_freq" -> cmsFreq,
    "q_embed_gram" -> embedGram,
    "q_embed_gram_by" -> embedGramBy,
    "q_embed_project" -> embedProject,
    "q_embed_drift" -> embedDrift,
    "q_neg_samples" -> negSamples,
    "q_quantile_sketch" -> quantileSketch,
    "q_robust_outliers" -> robustOutliersQ,
    "q_semantic_dedup" -> semanticDedup,
    "q_bpe_merges" -> bpeMerges,
    "q_bpe_tokens" -> bpeTokens,
    "q_bpe_fertility" -> bpeFertility,
    "q_bpe_tokenize" -> bpeTokenize,
    "q_containment" -> containmentPairs,
    "q_select_budget" -> selectBudget,
    "q_shard_balanced" -> shardBalanced,
    "q_dsir_weights" -> dsirWeights,
    "q_lm_perplexity" -> lmPerplexity,
    "q_lm_perplexity_bigram" -> lmPerplexityBigram,
    "q_lm_perplexity_trigram" -> lmPerplexityTrigram,
    "q_lm_perplexity_kn" -> lmPerplexityKn,
    "q_lm_perplexity_kn3" -> lmPerplexityKn3,
    "q_preference_bt" -> preferenceBt,
    "q_preference_winrate" -> preferenceWinrate,
    "q_dsir_select" -> dsirSelect,
    "q_dsir_pipeline" -> dsirPipeline,
    "q_ccnet_pipeline" -> ccnetPipeline,
    "q_curation_select" -> curationSelect,
    "q_boilerplate" -> boilerplate,
    "q_curation_funnel" -> curationFunnel,
    "q_curation_gate" -> curationGate,
    "q_dedup_histogram" -> dedupHistogram,
    "q_nb_classify" -> nbClassify,
    "q_nb_eval" -> nbEval,
    "q_nb_eval_holdout" -> nbEvalHoldout,
    "q_text_index_search" -> textIndexSearch,
    "q_phrase_search" -> phraseSearch,
    "q_phrase_search_multi" -> phraseSearchMulti,
    "q_proximity_search" -> proximitySearch,
    "q_text_index_multi" -> textIndexMulti,
    "q_text_index_multi_dist" -> textIndexMultiDist,
    "q_text_index_rm3" -> textIndexRm3,
    "q_text_index_ql" -> textIndexQl,
    "q_passage_search" -> passageSearch,
    "q_search_snippets" -> searchSnippets,
    "q_text_index_health" -> textIndexHealth,
    "q_pmi_pairs" -> pmiPairs,
    "q_text_vec_neardup" -> textVecNearDup,
    "q_hybrid_search" -> hybridSearch,
    "q_hybrid_index" -> hybridIndex,
    "q_select_coverage" -> selectCoverage,
    "q_top_bigrams" -> topBigrams
  )

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_winnow_pairs" -> winnowPairsSql,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_dedup_canonical" -> dedupCanonicalSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_dedup_jaccard" -> dedupJaccardSql,
    "q_dedup_jaccard_capped" -> dedupJaccardCappedSql,
    "q_dedup_against_pairs" -> dedupAgainstPairsSql,
    "q_dedup_against_bloomed" -> dedupAgainstBloomedSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_dedup_bloom_gate" -> dedupBloomGateSql,
    "q_dedup_normalized" -> dedupNormalizedSql,
    "q_line_dedup" -> lineDedupSql,
    "q_lm_commonness" -> lmCommonnessSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_split_assign" -> splitAssignSql,
    "q_split_leakage_safe" -> splitLeakageSafeSql,
    "q_curation_pipeline" -> curationPipelineSql,
    "q_top_terms" -> topTermsSql,
    "q_tfidf_terms" -> tfidfTermsSql,
    "q_bm25_search" -> bm25SearchSql,
    "q_ql_search" -> qlSearchSql,
    "q_ann_ivf_health" -> annIvfHealthSql,
    "q_text_simhash" -> textSimhashSql,
    "q_embed_neardup" -> embedNearDupSql,
    "q_label_centroids" -> labelCentroidsSql,
    "q_ann_topk" -> annTopKSql,
    "q_hard_negatives" -> hardNegativesSql,
    "q_ann_sq8" -> annSq8Sql,
    "q_ann_topk_plan" -> annTopKSql,
    "q_ann_lsh" -> annLshSql,
    "q_ann_eval" -> annEvalSql,
    "q_ann_lsh_probe" -> annLshProbeSql,
    "q_ann_mmr" -> annMmrSql,
    "q_ann_shootout" -> annShootoutSql,
    "q_ann_lsh_learned" -> annLshLearnedSql,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_ivf_index" -> annIvfSql, // the persisted path must reproduce the one-job result
    "q_ann_ivf_index_refined" -> annIvfKmeansSql, // refined lifecycle ≡ one-job refined
    "q_ann_ivf_sq8" -> annIvfSq8Sql,
    "q_ann_pq" -> annPqSql,
    "q_ann_ivf_pq" -> annIvfPqSql,
    "q_ann_ivf_kmeans" -> annIvfKmeansSql,
    "q_text_lang" -> textLangSql,
    "q_text_quality" -> textQualitySql,
    "q_quality_lr" -> qualityLrSql,
    "q_quality_lr_holdout" -> qualityLrHoldoutSql,
    "q_quality_lr_calibration" -> qualityLrCalibrationSql,
    "q_quality_lr_isotonic" -> qualityLrIsotonicSql,
    "q_quality_lr_isotonic_by_src" -> qualityLrIsotonicBySrcSql,
    "q_quality_lr_auc" -> qualityLrAucSql,
    "q_quality_kappa" -> qualityKappaSql,
    "q_quality_rules" -> qualityRulesSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_decontaminate" -> decontaminateSql,
    "q_sample_quota" -> sampleQuotaSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_rouge_lead" -> rougeLeadSql,
    "q_text_tokens" -> textTokensSql,
    "q_text_fingerprint" -> textFingerprintSql,
    "q_mm_decode" -> mmDecodeSql,
    "q_mm_image" -> mmImageSql,
    "q_mm_image_png" -> mmImagePngSql,
    "q_mm_audio" -> mmAudioSql,
    "q_mm_audio_ulaw" -> mmAudioUlawSql,
    "q_mm_audio_neardup" -> mmAudioNearDupSql,
    "q_mm_frames" -> mmFramesSql,
    "q_mm_neardup" -> mmNearDupSql,
    "q_mm_neardup_png" -> mmNearDupSql,
    "q_dup_spans" -> dupSpansSql,
    "q_span_removal" -> spanRemovalSql,
    "q_span_removal_runs" -> spanRemovalRunsSql,
    "q_dup_lines" -> dupLinesSql,
    "q_mixture_weights" -> mixtureWeightsSql,
    "q_mixture_unimax" -> mixtureUnimaxSql,
    "q_mixture_materialize" -> mixtureMaterializeSql,
    "q_source_divergence" -> sourceDivergenceSql,
    "q_training_order" -> trainingOrderSql,
    "q_training_run" -> trainingRunSql,
    "q_length_trim" -> lengthTrimSql,
    "q_join_estimate" -> joinEstimateSql,
    "q_chunk_docs" -> chunkDocsSql,
    "q_pii_redact" -> piiRedactSql,
    "q_lang_confusion" -> langConfusionSql,
    "q_cc_detect" -> ccDetectSql,
    "q_release_gate" -> releaseGateSql,
    "q_distinct_kmv" -> distinctKmvSql,
    "q_sketch_rollup" -> sketchRollupSql,
    "q_quantile_rollup" -> quantileRollupSql,
    "q_topterms_rollup" -> topTermsRollupSql,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_skew_advisor" -> skewAdvisorSql,
    "q_cms_freq" -> cmsFreqSql,
    "q_embed_gram" -> embedGramSql,
    "q_embed_gram_by" -> embedGramBySql,
    "q_embed_project" -> embedProjectSql,
    "q_embed_drift" -> embedDriftSql,
    "q_neg_samples" -> negSamplesSql,
    "q_quantile_sketch" -> quantileSketchSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_robust_outliers" -> robustOutliersSql,
    "q_bpe_merges" -> bpeMergesSql,
    "q_bpe_tokens" -> bpeTokensSql,
    "q_bpe_fertility" -> bpeFertilitySql,
    "q_bpe_tokenize" -> bpeTokenizeSql,
    "q_containment" -> containmentPairsSql,
    "q_select_budget" -> selectBudgetSql,
    "q_shard_balanced" -> shardBalancedSql,
    "q_dsir_weights" -> dsirWeightsSql,
    "q_lm_perplexity" -> lmPerplexitySql,
    "q_dsir_select" -> dsirSelectSql,
    "q_lm_perplexity_bigram" -> lmPerplexityBigramSql,
    "q_lm_perplexity_trigram" -> lmPerplexityTrigramSql,
    "q_lm_perplexity_kn" -> lmPerplexityKnSql,
    "q_lm_perplexity_kn3" -> lmPerplexityKn3Sql,
    "q_dsir_pipeline" -> dsirPipelineSql,
    "q_preference_bt" -> preferenceBtSql,
    "q_preference_winrate" -> preferenceWinrateSql,
    "q_ccnet_pipeline" -> ccnetPipelineSql,
    "q_curation_select" -> curationSelectSql,
    "q_boilerplate" -> boilerplateSql,
    "q_curation_funnel" -> curationFunnelSql,
    "q_curation_gate" -> curationGateSql,
    "q_dedup_histogram" -> dedupHistogramSql,
    "q_nb_classify" -> nbClassifySql,
    "q_nb_eval" -> nbEvalSql,
    "q_nb_eval_holdout" -> nbEvalHoldoutSql,
    "q_text_index_search" -> textIndexSearchSql,
    "q_phrase_search" -> phraseSearchSql,
    "q_phrase_search_multi" -> phraseSearchMultiSql,
    "q_proximity_search" -> proximitySearchSql,
    "q_text_index_multi" -> textIndexMultiSql,
    "q_text_index_multi_dist" -> textIndexMultiSql,
    "q_text_index_rm3" -> textIndexRm3Sql,
    "q_text_index_ql" -> textIndexQlSql,
    "q_passage_search" -> passageSearchSql,
    "q_search_snippets" -> searchSnippetsSql,
    "q_text_index_health" -> textIndexHealthSql,
    "q_pmi_pairs" -> pmiPairsSql,
    "q_text_vec_neardup" -> textVecNearDupSql,
    "q_hybrid_search" -> hybridSearchSql,
    "q_hybrid_index" -> hybridIndexSql,
    "q_select_coverage" -> selectCoverageSql,
    "q_top_bigrams" -> topBigramsSql
  )
}
