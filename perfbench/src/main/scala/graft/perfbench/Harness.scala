package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** JVM side of the benchmark (started by run.py, one process per run).
  *
  * Arguments are `--name value` pairs: workload, seed, seconds, trace
  * (0/1), data (corpus dir), work (working dir), out (result JSON
  * path), spawn_us (epoch microseconds at which run.py spawned this
  * JVM), cores.
  *
  * The result JSON carries raw samples; run.py turns them into the
  * reported metrics.
  */
object Harness {

  /** batch_cold's fixed work: one registry query per module group,
    * query → module group.
    */
  val BatchQueries: Seq[(String, String)] = Seq(
    "q_sliding_window" -> "Windows", "q_latest_feature" -> "Upsert", "q_asof_join" -> "Joins",
    "q_shed_mean_policy" -> "Shedding", "q_source_jsonl" -> "Sources",
    "q_label_propagation" -> "Graph", "q_quality_kappa" -> "Classify", "q_mixture_unimax" -> "Mixture",
    "q_ann_ivf" -> "IvfIndex", "q_rouge_lead" -> "TextAnalysis", "q_bpe_merges" -> "Bpe",
    "q_dedup_jaccard_capped" -> "Dedup")

  /** Cheap registry query (not in the list) that warms the session
    * before the cold pass.
    */
  val WarmUpQuery = "q_mixture_weights"

  val Modules: Seq[String] = BatchQueries.map(_._2).distinct

  /** Writer of the result and span files (Jackson, shipped with Spark). */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, spawnUs: Long, cores: Int)

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Memory the program holds: heap still in use after a full GC
    * (`System.gc()` is a full collection under G1 unless
    * ExplicitGCInvokesConcurrent is set) plus the peak non-heap use
    * (metaspace, code cache), in MiB. Unlike the resident set, it does
    * not follow the heap size.
    */
  def retainedMb(): Double = {
    // the first GC queues Spark's weakly held broadcasts, shuffles and
    // accumulators for its ContextCleaner; the second frees what it dropped
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    System.err.println(f"[harness] retained heap ${heap / 1048576.0}%.1f MiB, non-heap peak ${nonHeap / 1048576.0}%.1f MiB")
    (heap + nonHeap) / 1048576.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("spawn_us").toLong, kv("cores").toInt)
    Files.createDirectories(Paths.get(o.work))
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[harness] session ready ${(nowUs - o.spawnUs) / 1e6}%.2f s after spawn")
    val tracer = new Tracer
    val counts = new SparkCounts
    spark.sparkContext.addSparkListener(counts)
    val result =
      try o.workload match {
        case "batch_cold"  => new BatchWorkload(spark, o, BatchQueries, tracer, counts).run()
        case "ralf_stream" => new StreamWorkload(spark, o, tracer, counts).run()
        case other         => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        if (o.trace) tracer.write(Paths.get(o.work, "spans.jsonl"))
      }
    val full = result + ("peak_rss_mb" -> peakRssMb)
    Files.write(Paths.get(o.out), Json.writeValueAsString(full).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The batch workload: one timed pass over a fixed query list, each
  * query built (the registry call, including any eager loop stages),
  * planned (`queryExecution.executedPlan`) and run to completion
  * (`collect` on that QueryExecution). Set-up warms only the session
  * (`WarmUpQuery`), so the timed pass is each query's first run in the
  * JVM, as for a batch job submitted on its own. With tracing, two warm
  * passes (traced, then untraced) follow to measure the tracing
  * overhead; the untraced one runs second, so JIT warm-up is charged to
  * tracing rather than hiding its cost.
  *
  * The rows of each query's last run are written as parquet afterwards,
  * for the DuckDB oracle comparison (tools/oracle_check.py).
  */
final class BatchWorkload(
    spark: SparkSession,
    o: Harness.Opts,
    queries: Seq[(String, String)],
    tracer: Tracer,
    counts: SparkCounts) {

  import Harness._

  private val fns = SparkEntry.queries
  private val module = queries.toMap
  private val rng = new scala.util.Random(o.seed)
  private val sc = spark.sparkContext

  final case class QueryRec(pass: Int, name: String, ms: Double, rows: Long, ok: Boolean, traced: Boolean)
  final case class PassRec(index: Int, wallS: Double, traced: Boolean, recs: Seq[QueryRec], retainedMb: Double)

  private val failures = mutable.ArrayBuffer.empty[String]
  private val lastOutput = mutable.Map.empty[String, (StructType, Array[Row])]

  private def runQuery(pass: Int, name: String, traced: Boolean): QueryRec = {
    val run = s"p$pass/$name"
    sc.setLocalProperty(counts.TagKey, if (traced) run else null)
    val t0 = System.nanoTime()
    val res =
      try {
        tracer.span("query", run) {
          val df = tracer.span("queries.build", run)(fns(name)(spark, o.data))
          tracer.span("catalyst.plan", run)(df.queryExecution.executedPlan)
          val rows = tracer.span("exec.run", run)(df.collect())
          if (module.contains(name)) lastOutput(name) = (df.schema, rows)
          Right(rows.length.toLong)
        }
      } catch {
        case NonFatal(e) => Left(s"$name pass $pass: ${e.getClass.getName}: ${e.getMessage}")
      }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[harness] pass $pass%d $name%-26s $ms%9.1f ms${if (res.isLeft) " FAILED" else ""}")
    sc.setLocalProperty(counts.TagKey, null)
    // queries are timed independently: drop what the previous one cached
    spark.catalog.clearCache()
    res match {
      case Right(rows) => QueryRec(pass, name, ms, rows, ok = true, traced)
      case Left(msg) =>
        failures += msg
        QueryRec(pass, name, ms, -1L, ok = false, traced)
    }
  }

  private def pass(index: Int, traced: Boolean): PassRec = {
    val order = rng.shuffle(queries.map(_._1))
    tracer.on = traced
    val t0 = System.nanoTime()
    val recs = order.map(runQuery(index, _, traced))
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.on = false
    // outside the timed span; the full GC also frees localCheckpointed
    // intermediates before the next pass
    PassRec(index, wall, traced, recs, retainedMb())
  }

  /** Write each query's last output and the oracle SQL of the list. */
  private def dumpOutputs(): String = {
    val outDir = Paths.get(o.work, "out")
    Files.createDirectories(outDir)
    lastOutput.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString)
    }
    val sql = SparkEntry.oracleSql
    Files.write(outDir.resolve("oracle_sql.json"),
      Json.writeValueAsString(queries.map(_._1).filter(sql.contains).map(q => q -> sql(q)).toMap)
        .getBytes(StandardCharsets.UTF_8))
    outDir.toString
  }

  def run(): Map[String, Any] = {
    runQuery(0, WarmUpQuery, traced = false)
    val setupS = (nowUs - o.spawnUs) / 1e6

    val passes = Seq(pass(1, traced = o.trace)) ++
      (if (o.trace) Seq(pass(2, traced = true), pass(3, traced = false)) else Nil)
    Bus.drain(sc)

    val timed = passes.take(1)
    val outRows = queries.map { case (q, _) =>
      q -> passes.flatMap(_.recs).filter(r => r.name == q && r.ok).map(_.rows).distinct
    }.toMap
    val base = Map[String, Any](
      "setup_s" -> setupS,
      "pass_s" -> timed.map(_.wallS),
      "retained_mb" -> timed.head.retainedMb,
      "pass_rows" -> timed.map(_.recs.map(r => math.max(r.rows, 0L)).sum),
      "op_ms" -> timed.flatMap(_.recs.map(_.ms)),
      "ms_by_query" -> queries.map { case (q, _) => q -> timed.flatMap(_.recs).filter(_.name == q).map(_.ms) }.toMap,
      "attempted" -> passes.map(_.recs.size).sum,
      "failed" -> passes.map(_.recs.count(!_.ok)).sum,
      "failures" -> failures.toList,
      "rows_by_query" -> outRows,
      "passes" -> passes.size)
    val layers = if (o.trace) Map("layers" -> layerMetrics(timed, passes.drop(1))) else Map.empty
    base ++ layers ++ Map("out_dir" -> dumpOutputs())
  }

  /** Per-layer numbers over `traced` passes, as means per pass, and the
    * tracing overhead between the traced and untraced `overhead` passes.
    */
  private def layerMetrics(traced: Seq[PassRec], overhead: Seq[PassRec]): Map[String, Double] = {
    val n = traced.size.toDouble
    val untracedS = median(overhead.filter(!_.traced).map(_.wallS))
    val tracedS = median(overhead.filter(_.traced).map(_.wallS))
    val layerS = median(traced.map(_.wallS))
    val tracedRuns = traced.flatMap(_.recs.map(r => s"p${r.pass}/${r.name}")).toSet
    val spans = tracer.all.filter(sp => tracedRuns.contains(sp.run))
    def spanS(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
    val stats = tracedRuns.toSeq.flatMap(r => counts.get(r).map(r -> _)).toMap
    val all = stats.values.toSeq
    // driver gap: query wall minus the union of its jobs' spans
    val gapS = traced.flatMap(_.recs).map { r =>
      val jobsMs = stats.get(s"p${r.pass}/${r.name}").map(s => Intervals.union(s.jobs.toSeq)).getOrElse(0L)
      math.max(0.0, r.ms / 1e3 - jobsMs / 1e3)
    }.sum / n
    val runS = all.map(_.runMs).sum / 1e3 / n
    val byModule = Modules.flatMap { m =>
      val recs = traced.flatMap(_.recs).filter(r => module.get(r.name).contains(m))
      Seq(
        s"$m.wall_s" -> recs.map(_.ms).sum / 1e3 / n,
        s"$m.jobs" -> recs.flatMap(r => stats.get(s"p${r.pass}/${r.name}")).map(_.jobs.size).sum / n)
    }
    Map(
      "queries.build_s" -> spanS("queries.build"),
      "catalyst.plan_s" -> spanS("catalyst.plan"),
      "exec.run_s" -> spanS("exec.run"),
      "driver.gap_s" -> gapS,
      "spark.jobs" -> all.map(_.jobs.size).sum / n,
      "spark.stages" -> all.map(_.stages).sum / n,
      "spark.tasks" -> all.map(_.tasks).sum / n,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_read_bytes" -> all.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> all.map(_.spill).sum / n,
      "spark.input_bytes" -> all.map(_.input).sum / n,
      "spark.core_util" -> (if (layerS > 0) runS / (layerS * o.cores) else 0.0),
      "trace.overhead_frac" -> (if (untracedS > 0) tracedS / untracedS - 1 else 0.0)
    ) ++ byModule
  }
}
