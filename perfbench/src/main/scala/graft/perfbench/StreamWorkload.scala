package graft.perfbench

import java.io.{File, InputStream}
import java.net.{HttpURLConnection, URI}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col

import graft.core.FeatureFrame
import graft.serve.FeatureServer
import graft.state.{BucketedParquetConnector, Connector}
import graft.streaming.{FeatureTableSink, StreamingFeatures}
import graft.streaming.StreamingFeatures.{KeyFeature, Update}

/** Generator parameters of the stream workload (recorded in BENCHMARK.json). */
object StreamParams {
  val Keys = 10000
  val Skew = 1.1
  val BatchRows = 2000
  val Buckets = FeatureTableSink.DefaultBuckets
  val Window = 8
  val Slide = 4
  val ShedModulus = 10
  val ShedKeepBelow = 9
  val MissFrac = 0.1
  val WarmBatches = 2
}

/** Zipf(skew) draw over `n` ranks, mapped through a seeded permutation
  * so the hot keys differ from seed to seed.
  */
final class ZipfKeys(n: Int, skew: Double, seed: Long) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, skew))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val perm = {
    val r = new scala.util.Random(seed)
    r.shuffle((0 until n).toVector).toArray
  }
  def name(i: Int): String = f"k$i%05d"
  def draw(rng: SplittableRandom): String = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    name(perm(lo))
  }
}

/** Connector wrapper that times each point lookup the server makes. */
final class TimedConnector(inner: BucketedParquetConnector) extends Connector {
  @volatile var lastPointNs: Long = 0L
  override def spark: SparkSession = inner.spark
  override def keyCol: String = inner.keyCol
  override def bulkQuery(): DataFrame = inner.bulkQuery()
  override protected def replace(table: DataFrame): Unit =
    throw new UnsupportedOperationException("read-only")
  override def pointQuery(key: Any): Option[Row] = {
    val t0 = System.nanoTime()
    try inner.pointQuery(key) finally lastPointNs = System.nanoTime() - t0
  }
}

/** One point request as the client saw it. */
final case class Read(
    startNs: Long, endNs: Long, key: String, miss: Boolean, status: Int,
    ord: Long, value: Double, pointNs: Long, traced: Boolean, error: String)

/** Closed-loop HTTP client: one thread, one keep-alive connection, the
  * next request sent when the previous answer is in.
  */
final class Reader(port: Int, keys: ZipfKeys, seed: Long, timed: TimedConnector, tracer: Tracer) extends Thread("perfbench-reader") {
  @volatile var stopNow = false
  val reads = mutable.ArrayBuffer.empty[Read]
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val OrdRe = "\"ord\":(-?\\d+)".r
  private val ValueRe = "\"value\":([-0-9.Ee]+)".r

  private def drain(in: InputStream): String =
    if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()

  override def run(): Unit = while (!stopNow) {
    val miss = rng.nextDouble() < StreamParams.MissFrac
    val key = if (miss) f"m${rng.nextInt(StreamParams.Keys)}%05d" else keys.draw(rng)
    val traced = tracer.on
    val t0 = System.nanoTime()
    val r =
      try {
        val c = new URI(s"http://127.0.0.1:$port/point?key=$key").toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(10000)
        c.setReadTimeout(30000)
        val status = c.getResponseCode
        val body = drain(if (status >= 400) c.getErrorStream else c.getInputStream)
        val t1 = System.nanoTime()
        val ord = OrdRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
        val value = ValueRe.findFirstMatchIn(body).map(_.group(1).toDouble).getOrElse(Double.NaN)
        Read(t0, t1, key, miss, status, ord, value, timed.lastPointNs, traced, null)
      } catch {
        case NonFatal(e) => Read(t0, System.nanoTime(), key, miss, -1, -1L, Double.NaN, 0L, traced, e.toString)
      }
    reads.synchronized(reads += r)
  }
}

/** The ralf pipeline as a running stream: seeded Zipf events offered in
  * fixed-size micro-batches (closed loop) through a MemoryStream →
  * deterministic sample shed on ord → per-key sliding count window →
  * window mean → FeatureTableSink.merge into a bucketed table, while one
  * client point-queries a FeatureServer over that table.
  */
final class StreamWorkload(spark: SparkSession, o: Harness.Opts, tracer: Tracer, counts: SparkCounts) {

  import Harness._
  import StreamParams._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val keys = new ZipfKeys(Keys, Skew, o.seed)
  private val eventRng = new SplittableRandom(o.seed)
  private val offered = mutable.ArrayBuffer.empty[Update]
  private val root = new File(o.work, "sink").getAbsolutePath
  private val ckpt = new File(o.work, "checkpoint").getAbsolutePath

  final case class BatchRec(index: Int, offerNs: Long, offeredNs: Long, publishedNs: Long, traced: Boolean)
  final case class MergeRec(mergeNs: Long, buckets: Int, bytes: Long, rowsRewritten: Long, shedKept: Long)

  private val published = new LinkedBlockingQueue[(Long, Long)]()
  private val merges = new java.util.concurrent.ConcurrentHashMap[Long, MergeRec]()

  private def nextBatch(): Seq[Update] = {
    val base = offered.size.toLong
    val rows = (0 until BatchRows).map { i =>
      Update(keys.draw(eventRng), base + i, math.round(eventRng.nextDouble() * 10000) / 100.0)
    }
    offered ++= rows
    rows
  }

  /** Current version dir of each bucket, read from its `_CURRENT` pointer. */
  private def bucketVersions(): Map[String, String] = {
    val dirs = Option(new File(root).listFiles()).getOrElse(Array.empty[File]).filter(_.getName.matches("b\\d+"))
    dirs.flatMap { d =>
      val ptr = new File(d, "_CURRENT")
      if (ptr.exists()) Some(d.getName -> new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim)
      else None
    }.toMap
  }

  private def versionStats(bucket: String, version: String): (Long, Long) = {
    val files = Option(new File(new File(root, bucket), version).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet"))
    val conf = new Configuration()
    val rows = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
    (files.map(_.length()).sum, rows)
  }

  /** Rows kept by the shed filter in the micro-batch that just ran. */
  private def shedKept(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    try {
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      exec.executedPlan.collect { case f: FilterExec => f.metrics("numOutputRows").value }.sum
    } catch { case NonFatal(_) => -1L }

  def run(): Map[String, Any] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Update]
    val shed = FeatureFrame.source(mem.toDF(), "key", "ord")
      .shedSample("ord", ShedModulus, ShedKeepBelow).df.as[Update]
    val feats = StreamingFeatures.slidingCountWindow(spark, shed, Window, Slide)
      .map(w => KeyFeature(w.key, w.windowId, w.values.sum / w.values.size, w.windowId + 1))
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val streamCounts = new StreamCounts
    spark.streams.addListener(streamCounts)
    query = feats.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[KeyFeature], id: Long) =>
        val traced = tracer.on
        sc.setLocalProperty(counts.TagKey, if (traced) s"merge/$id" else null)
        val before = if (traced) bucketVersions() else Map.empty[String, String]
        val t0 = System.nanoTime()
        tracer.span("state.merge", s"b$id")(FeatureTableSink.merge(spark, root, batch, id, Buckets))
        val t1 = System.nanoTime()
        sc.setLocalProperty(counts.TagKey, null)
        if (traced) {
          val changed = bucketVersions().filter { case (b, v) => !before.get(b).contains(v) }
          val st = changed.toSeq.map { case (b, v) => versionStats(b, v) }
          merges.put(id, MergeRec(t1 - t0, changed.size, st.map(_._1).sum, st.map(_._2).sum, shedKept(query)))
        } else merges.put(id, MergeRec(t1 - t0, 0, 0L, 0L, -1L))
        published.put((id, t1))
        ()
      }
      .start()

    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val failures = mutable.ArrayBuffer.empty[String]
    def offer(traced: Boolean): Unit = {
      val rows = nextBatch()
      tracer.on = traced
      val i = batches.size
      val t0 = System.nanoTime()
      tracer.span("source.offer", s"b$i")(mem.addData(rows))
      val t1 = System.nanoTime()
      val pub = published.poll(120, TimeUnit.SECONDS)
      if (pub == null) throw new IllegalStateException(s"micro-batch $i not published within 120 s")
      val (id, tPub) = pub
      batches += BatchRec(i, t0, t1, tPub, traced)
      System.err.println(f"[harness] batch $i%d round ${(tPub - t0) / 1e6}%.1f ms, merge ${merges.get(id).mergeNs / 1e6}%.1f ms")
      tracer.on = false
    }

    var server: FeatureServer = null
    var reader: Reader = null
    try {
      (0 until WarmBatches).foreach(_ => offer(traced = false))
      // the reader starts after the first publish: before it, the pinned
      // but empty table answers every request with a sub-ms miss
      val schema = Encoders.product[KeyFeature].schema
      val timed = new TimedConnector(new BucketedParquetConnector(spark, "key", schema, root, Buckets))
      server = new FeatureServer(timed)
      server.start()
      reader = new Reader(server.boundPort, keys, o.seed, timed, tracer)
      reader.setDaemon(true)
      val setupS = (nowUs - o.spawnUs) / 1e6

      reader.start()
      val startNs = System.nanoTime()
      val deadline = startNs + (o.seconds * 1e9).toLong
      var k = 0
      while (k < (if (o.trace) 2 else 1) || System.nanoTime() < deadline) {
        offer(traced = o.trace && k % 2 == 1)
        k += 1
      }
      val endNs = System.nanoTime()
      reader.stopNow = true
      reader.join(60000)
      // stream, store and server are all still up
      val retained = retainedMb()
      server.stop()
      server = null
      query.stop()
      Bus.drain(sc)
      spark.streams.removeListener(streamCounts)

      val measured = batches.drop(WarmBatches).toSeq
      val reads = reader.reads.synchronized(reader.reads.toList)
      val check = new StreamCheck(spark, offered.toSeq, root, batches.toSeq)
      val readFails = check.checkReads(reads)
      failures ++= check.tableFailures ++ readFails.map(_._2)
      val untraced = measured.filter(!_.traced)
      val base = Map[String, Any](
        "setup_s" -> setupS,
        "pass_s" -> untraced.map(b => (b.publishedNs - b.offerNs) / 1e9),
        "op_ms" -> reads.filter(!_.traced).map(r => (r.endNs - r.startNs) / 1e6),
        "retained_mb" -> retained,
        "ingest_rows" -> measured.size * BatchRows,
        "ingest_s" -> (endNs - startNs) / 1e9,
        "attempted" -> (batches.size + reads.size + 1),
        "failed" -> (readFails.size + check.tableFailures.size),
        "failures" -> failures.take(20).toList,
        "hits" -> reads.count(_.status == 200),
        "misses" -> reads.count(_.status == 404),
        "read_errors" -> reads.count(r => r.status != 200 && r.status != 404),
        "batches" -> batches.size)
      val layers =
        if (o.trace) Map("layers" -> layerMetrics(measured, reads, streamCounts, check)) else Map.empty
      base ++ layers
    } finally {
      if (reader != null) { reader.stopNow = true; reader.join(60000) }
      if (server != null) server.stop()
      if (query.isActive) query.stop()
    }
  }

  private def layerMetrics(
      measured: Seq[BatchRec], reads: Seq[Read], sc: StreamCounts, check: StreamCheck): Map[String, Double] = {
    val traced = measured.filter(_.traced)
    val untraced = measured.filter(!_.traced)
    def roundMs(b: BatchRec) = (b.publishedNs - b.offerNs) / 1e6
    // micro-batch id i is the i-th offer: one offer per trigger, closed loop
    val progress = traced.flatMap(b => Option(sc.progress.get(b.index.toLong))).map(_.progress)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val state = progress.flatMap(_.stateOperators.headOption)
    val mrecs = traced.flatMap(b => Option(merges.get(b.index.toLong)))
    val mergeMs = mrecs.map(_.mergeNs / 1e6)
    val jobs = traced.map(b => counts.get(s"merge/${b.index}").map(_.jobs.size.toDouble).getOrElse(0.0))
    val changedRows = traced.map(b => check.changedKeys(b.index).toDouble)
    val kept = mrecs.map(_.shedKept).filter(_ >= 0)
    val tReads = reads.filter(r => r.traced && r.error == null)
    val httpMs = tReads.map(r => (r.endNs - r.startNs) / 1e6)
    Map(
      "streaming.trigger_ms_p50" -> median(dur("triggerExecution")),
      "streaming.trigger_ms_p90" -> quantile(dur("triggerExecution"), 0.9),
      "streaming.addBatch_ms_p50" -> median(dur("addBatch")),
      "streaming.walCommit_ms_p50" -> median(dur("walCommit")),
      "streaming.commitOffsets_ms_p50" -> median(dur("commitOffsets")),
      "streaming.queryPlanning_ms_p50" -> median(dur("queryPlanning")),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.state_update_ms" -> median(state.map(_.allUpdatesTimeMs.toDouble)),
      "streaming.shed_frac" -> (if (kept.isEmpty) 0.0 else 1.0 - kept.sum.toDouble / (kept.size * BatchRows)),
      "state.merge_ms_p50" -> median(mergeMs),
      "state.merge_ms_p90" -> quantile(mergeMs, 0.9),
      "state.merge_jobs" -> median(jobs),
      "state.buckets_touched" -> median(mrecs.map(_.buckets.toDouble)),
      "state.bytes_written" -> median(mrecs.map(_.bytes.toDouble)),
      "state.write_amp" -> (if (changedRows.sum > 0) mrecs.map(_.rowsRewritten).sum / changedRows.sum else 0.0),
      "state.point_ms_p50" -> median(tReads.map(_.pointNs / 1e6)),
      "serve.http_ms_p50" -> median(httpMs),
      "serve.overhead_ms" -> median(tReads.map(r => (r.endNs - r.startNs - r.pointNs) / 1e6)),
      "serve.hit_frac" -> (if (tReads.isEmpty) 0.0 else tReads.count(_.status == 200).toDouble / tReads.size),
      "serve.staleness_p50_updates" -> median(check.staleness(tReads)),
      "source.offer_ms_p50" -> median(traced.map(b => (b.offeredNs - b.offerNs) / 1e6)),
      "trace.overhead_frac" ->
        (if (untraced.isEmpty) 0.0 else median(traced.map(roundMs)) / median(untraced.map(roundMs)) - 1)
    )
  }
}

/** Correctness of the stream run, checked after it stopped. The batch
  * twin (FeatureFrame shed → sliding → mean → latest over the same
  * events) gives every window each key held; the sink must hold exactly
  * each key's last window, and every point-query hit must return a
  * window value its key held.
  */
final class StreamCheck(spark: SparkSession, events: Seq[Update], root: String, batches: Seq[StreamWorkload#BatchRec]) {
  import StreamParams._
  import spark.implicits._

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private val windows: DataFrame = FeatureFrame.source(events.toDF(), "key", "ord")
    .shedSample("ord", ShedModulus, ShedKeepBelow)
    .sliding("value", Window, Slide)
    .mapFeature(_.select(col("key"), col("ord"), ((col("_rn") - Window) / Slide).cast("long").as("window_id"),
      col("w_avg")))
    .df

  /** (key, window id) → (mean, index of the batch that completed it). */
  private val history: Map[(String, Long), (Double, Int)] =
    windows.collect().map(r =>
      (r.getString(0), r.getLong(2)) -> (r.getDouble(3), (r.getLong(1) / BatchRows).toInt)).toMap

  private val byKey: Map[String, Seq[(Long, Int)]] =
    history.toSeq.map { case ((k, w), (_, b)) => (k, (w, b)) }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }

  private val changed: Map[Int, Int] =
    history.toSeq.map { case ((k, _), (_, b)) => (b, k) }.distinct.groupBy(_._1).map { case (b, v) => b -> v.size }

  def changedKeys(batch: Int): Int = changed.getOrElse(batch, 0)

  val tableFailures: Seq[String] = {
    val twin = FeatureFrame(windows, "key", "ord").latest.select("key", "window_id", "w_avg")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sink = FeatureTableSink.read(spark, root).select("key", "ord", "value")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val bad = (twin.keySet ++ sink.keySet).toSeq.sorted.filter { k =>
      (twin.get(k), sink.get(k)) match {
        case (Some((w, a)), Some((o, b))) => w != o || !close(b, a)
        case _ => true
      }
    }
    if (bad.isEmpty) Nil
    else Seq(s"sink table differs from the batch twin on ${bad.size} of ${twin.size} keys, e.g. ${bad.take(3).mkString(",")}")
  }

  private def publishedBefore(batch: Int, ns: Long): Boolean =
    batches.lift(batch).exists(_.publishedNs < ns)

  /** Failed reads with the reason. */
  def checkReads(reads: Seq[Read]): Seq[(Read, String)] = reads.flatMap { r =>
    val why: Option[String] =
      if (r.error != null) Some(s"request error ${r.error}")
      else r.status match {
        case 200 if r.miss => Some(s"hit for never-written key ${r.key}")
        case 200 => history.get((r.key, r.ord)) match {
          case Some((v, _)) if close(r.value, v) => None
          case _ => Some(s"${r.key} returned (${r.ord}, ${r.value}), not a value it held")
        }
        case 404 if !r.miss && byKey.get(r.key).exists(ws => publishedBefore(ws.head._2, r.startNs)) =>
          Some(s"miss for ${r.key}, written before the request")
        case 404 => None
        case s => Some(s"status $s for ${r.key}")
      }
    why.map(r -> _)
  }

  /** Per hit: windows the key completed in batches offered before the
    * request that the served value does not reflect (ralf's staleness,
    * in updates).
    */
  def staleness(reads: Seq[Read]): Seq[Double] = reads.filter(r => r.status == 200 && !r.miss).map { r =>
    byKey.getOrElse(r.key, Nil).count { case (w, b) =>
      w > r.ord && batches.lift(b).exists(_.offerNs < r.startNs)
    }.toDouble
  }
}
