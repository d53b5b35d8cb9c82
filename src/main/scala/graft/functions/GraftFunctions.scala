package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.types.StringType

/** Registration surface for graft's custom Catalyst expressions.
  *
  * Two ways in:
  *  - [[GraftFunctions.register]] on an existing session (used by the
  *    Verify/Bench mains and tests);
  *  - [[GraftExtensions]] via
  *    `spark.sql.extensions=graft.functions.GraftExtensions` for
  *    cluster deployments where the session is built elsewhere.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("graft_strhash"),
        new ExpressionInfo(classOf[StrHash].getName, "graft_strhash"),
        (es: Seq[Expression]) => StrHash(es.head)
      ),
      (
        FunctionIdentifier("graft_vecdot"),
        new ExpressionInfo(classOf[VecDot].getName, "graft_vecdot"),
        (es: Seq[Expression]) => VecDot(es(0), es(1))
      ),
      (
        FunctionIdentifier("graft_simhash"),
        new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
        (es: Seq[Expression]) => SimHash(es.head, graft.llm.TextOps.SimBits)
      ),
      (
        FunctionIdentifier("graft_shingle_hashes"),
        new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
        (es: Seq[Expression]) => ShingleHashes(es(0), intLit(es(1), "n-gram width"))
      ),
      (
        FunctionIdentifier("graft_bigram_hashes"),
        new ExpressionInfo(classOf[BigramPairHashes].getName, "graft_bigram_hashes"),
        (es: Seq[Expression]) => BigramPairHashes(es.head)
      ),
      (
        FunctionIdentifier("graft_rolling_fp"),
        new ExpressionInfo(classOf[RollingFpHashes].getName, "graft_rolling_fp"),
        (es: Seq[Expression]) =>
          RollingFpHashes(es(0), intLit(es(1), "gram width"), intLit(es(2), "mod").toLong)
      ),
      (
        FunctionIdentifier("graft_alpha_count"),
        new ExpressionInfo(classOf[AsciiAlphaCount].getName, "graft_alpha_count"),
        (es: Seq[Expression]) => AsciiAlphaCount(es.head)
      ),
      (
        FunctionIdentifier("graft_winnow"),
        new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
        (es: Seq[Expression]) =>
          WinnowFingerprints(es(0), intLit(es(1), "gram width"), intLit(es(2), "window"))
      ),
      (
        // the library's standard MinHash parameters, so a SQL-computed
        // signature joins against signatures the Scala operators persist
        FunctionIdentifier("graft_minhash_sig"),
        new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
        (es: Seq[Expression]) => MinHashSig(es.head,
          graft.llm.TextOps.MinhashK, graft.llm.TextOps.AMul, graft.llm.TextOps.BMul)
      ),
      (
        // an AggregateFunction builder: the analyzer wraps it in an
        // AggregateExpression on resolution, so SQL `GROUP BY` use works
        FunctionIdentifier("graft_kmv_distinct"),
        new ExpressionInfo(classOf[KmvDistinct].getName, "graft_kmv_distinct"),
        (es: Seq[Expression]) => KmvDistinct(es(0), intLit(es(1), "sketch size k"))
      ),
      (
        FunctionIdentifier("graft_heavy_hitters"),
        new ExpressionInfo(classOf[HeavyHitters].getName, "graft_heavy_hitters"),
        (es: Seq[Expression]) => HeavyHitters(es(0), intLit(es(1), "counter budget k"))
      ),
      (
        FunctionIdentifier("graft_bottomk_sample"),
        new ExpressionInfo(classOf[BottomKSample].getName, "graft_bottomk_sample"),
        (es: Seq[Expression]) => BottomKSample(es(0), es(1), intLit(es(2), "sample size k"))
      ),
      (
        FunctionIdentifier("graft_bottomk_pairs"),
        new ExpressionInfo(classOf[BottomKPairs].getName, "graft_bottomk_pairs"),
        (es: Seq[Expression]) => BottomKPairs(es(0), es(1), intLit(es(2), "sample size k"))
      ),
      (
        FunctionIdentifier("graft_bottomk_merge"),
        new ExpressionInfo(classOf[BottomKMerge].getName, "graft_bottomk_merge"),
        (es: Seq[Expression]) => BottomKMerge(es(0), intLit(es(1), "sample size k"))
      ),
      (
        FunctionIdentifier("graft_heavy_hitters_merge"),
        new ExpressionInfo(classOf[HeavyHittersMerge].getName, "graft_heavy_hitters_merge"),
        (es: Seq[Expression]) => HeavyHittersMerge(es(0), intLit(es(1), "counter budget k"))
      ),
      (
        FunctionIdentifier("graft_bloom_build"),
        new ExpressionInfo(classOf[BloomBuild].getName, "graft_bloom_build"),
        (es: Seq[Expression]) =>
          BloomBuild(es(0), intLit(es(1), "bloom bit count"), intLit(es(2), "bloom hash count"))
      ),
      (
        FunctionIdentifier("graft_bloom_or"),
        new ExpressionInfo(classOf[BloomOr].getName, "graft_bloom_or"),
        (es: Seq[Expression]) => BloomOr(es(0))
      ),
      (
        FunctionIdentifier("graft_bloom_contains"),
        new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
        (es: Seq[Expression]) => BloomContains(es(0), es(1))
      )
    )

  def register(spark: SparkSession): Unit = registry.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  def injectInto(ext: SparkSessionExtensions): Unit =
    registry.foreach(ext.injectFunction)

  /** Column-API handle on [[StrHash]] — no session registration needed.
    * Input is cast to string (StrHash declares no implicit coercions).
    */
  def strhash(c: Column): Column =
    Bridge.column(StrHash(Bridge.expression(c.cast(StringType))))
}

/** `SparkSessionExtensions` injection point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injectInto(ext)
    graft.plans.Strategies.all.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}
