package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input fan-out for per-row-CPU-heavy operators
  * (guide §2.5's "unsplittable input" case): the test corpus ships
  * each table as ONE single-row-group parquet file, so a scan plans
  * ONE task and every map-side stage above it — tokenize, shingle,
  * n-gram explode, codec decode — runs on one core of local[N]
  * (measured r13: q_rouge_lead 7.5 s → 2.3 s once its tokenize stage
  * could use the other 31). File-split configs cannot help (a split
  * must hold ≥ 1 row group), so the heavy operators fan their input
  * with one round-robin exchange when the planned partition count is
  * below the session's parallelism.
  *
  * Deliberately NOT applied at the table loaders: a blanket fan-out
  * taxes every small aggregate job with parallelism-many task
  * launches (measured +1–2 s on the many-small-jobs queries), and
  * checkpoint partition counts inherit it into iteration loops. The
  * condition derives from the observed layout, not a local constant:
  * on a multi-file corpus (≥ cores splits — any real 100 TB layout)
  * the branch is a no-op and no exchange is planned.
  *
  * Results are unchanged: the repo's aggregates are
  * partition-order-free by the oracle-parity discipline (exact
  * integer/decimal sums, sort_array'd collect_lists, coalesce(1) +
  * in-partition-sort ranks), which the driver already exercises by
  * checking correctness and benching at different core counts.
  */
object Fan {
  def out(df: DataFrame): DataFrame = {
    // SPARK_GRAFT_SCAN_FANOUT=0 disables (measurement/ablation hook)
    if (sys.env.get("SPARK_GRAFT_SCAN_FANOUT").contains("0")) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Only narrow scan-rooted plans are candidates. Two reasons, both
    // measured: (1) a frame below a shuffle/join/aggregate already has
    // >= shuffle.partitions partitions, so fanning is a no-op at best;
    // (2) probing such a frame with .rdd.getNumPartitions EXECUTES its
    // upstream query stages under AQE (AdaptiveSparkPlanExec
    // materializes every exchange to finalize the plan), so the probe
    // alone ran the caller's whole prefix a second time — the ccnet /
    // DSIR pipelines measured +1.3–3.7 s from exactly this before the
    // narrow guard. On a narrow plan there are no stages to run and
    // the probe is pure planning.
    if (!narrowScanRooted(org.apache.spark.sql.graft.Bridge.logicalPlan(df))) return df
    // INVARIANT (r13 verdict): this .rdd probe is safe ONLY because
    // narrowScanRooted admitted no plan with executable stages below
    // it — extending the walk past any barrier (shuffle, join,
    // aggregate, checkpoint) re-introduces the AQE double-execution
    // the guard exists to prevent. Keep the probe behind the guard.
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  private def narrowScanRooted(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      // DSv2 parquet resolution (spark.sql.sources.useV1SourceList
      // change) must not silently disable the fan (r13 ADVICE): match
      // the v2 relations too.
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias |
                _: DeserializeToObject | _: SerializeFromObject |
                _: MapElements | _: TypedFilter) =>
        narrowScanRooted(n.asInstanceOf[UnaryNode].child)
      // not a LocalRelation: LocalTableScanExec already plans
      // min(rows, defaultParallelism) slices, so it never needs a fan
      case _ => false
    }
  }
}
