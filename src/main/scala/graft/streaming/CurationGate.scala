package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.llm.{CorpusFrame, Dedup}
import graft.state.CheckpointFiles
import graft.streaming.StreamingFeatures.StreamDoc

/** The streaming curation gate — the always-on counterpart of
  * [[graft.llm.CorpusFrame]]'s batch chain (reference scope: ralf keeps
  * feature tables fresh as records arrive, `ralf/operator.py:122-149`;
  * this is the same eager-maintenance shape for a training-corpus
  * ingest pipeline).
  *
  * Per micro-batch the gate runs the batch curation operators verbatim
  * ([[gateBatch]]): quality filter → decontamination against a
  * PERSISTED eval shingle set ([[graft.llm.Dedup.evalShingleSet]]) →
  * within-batch exact + near dedup → near-dedup against the ACCUMULATED
  * accepted corpus via the persisted signature-handoff table. Survivors
  * append to `acceptedDir`; their MinHash signatures append to
  * `sigDir`, which the NEXT micro-batch reloads as its dedup baseline —
  * the state the pipeline persists is exactly the K-longs-per-doc
  * artifact the batch incremental API ([[graft.llm.Dedup.dedupAgainst]])
  * already hands off between snapshots.
  *
  * Scale shape: every stage is the batch operator, so the per-batch
  * cost profile is the adjudicated one (band-bucketed joins, broadcast
  * eval set, no all-pairs); the accumulated side enters only through
  * the (band, digest)-keyed signature join, never as full text. Each
  * micro-batch writes to a `b<epoch>` subdirectory with overwrite, so a
  * replayed epoch (restart before offset commit) lands idempotently
  * instead of double-appending.
  *
  * StreamingSpec pins stream ≡ batch: streaming N micro-batches equals
  * folding [[gateBatch]] over the same slices, and the single-batch
  * gate equals the literal CorpusFrame chain.
  */
object CurationGate {

  /** One micro-batch (or one snapshot — the function is the batch
    * backfill entry point too) through the curation chain.
    *
    * @param batch        (doc_id, text) documents to curate
    * @param evalShingles reloaded [[graft.llm.Dedup.evalShingleSet]]
    * @param acceptedSigs reloaded signature table of everything accepted
    *                     so far (None on the first batch)
    * @return the accepted documents of this batch
    */
  def gateBatch(
      batch: DataFrame,
      evalShingles: DataFrame,
      acceptedSigs: Option[DataFrame],
      minQuality: Double,
      maxOverlap: Double,
      minJaccard: Double,
      accBandBloom: Option[Array[Byte]] = None
  ): DataFrame =
    gateStages(batch, evalShingles, acceptedSigs, minQuality, maxOverlap, minJaccard,
      accBandBloom).accepted

  /** The gate chain with every stage's survivor frame exposed — the
    * funnel-observability handle. `accepted` is what [[gateBatch]]
    * returns; the earlier frames are LAZY views onto the same chain
    * (counting a pre-materialize stage re-runs its prefix, which is the
    * honest cost of per-stage observability and is micro-batch-sized
    * here — the accepted path itself never pays it).
    */
  final case class GateStages(
      quality: DataFrame,
      decontaminated: DataFrame,
      exact: DataFrame,
      near: DataFrame,
      accepted: DataFrame)

  def gateStages(
      batch: DataFrame,
      evalShingles: DataFrame,
      acceptedSigs: Option[DataFrame],
      minQuality: Double,
      maxOverlap: Double,
      minJaccard: Double,
      accBandBloom: Option[Array[Byte]] = None
  ): GateStages = {
    val quality = CorpusFrame(batch, "doc_id", "text").filterQuality(minQuality)
    val decon = quality.decontaminateAgainstShingles(evalShingles, maxOverlap)
    // materialize before the near-dup stage: its signature table AND
    // canonicalize's anti-join both re-read this prefix (quality join,
    // contamination probe, exact-dedup semi-join) — one checkpoint
    // stops the chain recomputing per branch
    val exact = decon.dedupExact().materialize()
    val near = exact.dedupNear(minJaccard)
    val accepted = acceptedSigs match {
      case None => near.df
      case Some(old) =>
        // the incremental stage: drop batch docs near-dupping anything
        // already accepted (same anti-join shape as Dedup.dedupAgainst,
        // on the persisted signatures — no broadcast hint, the
        // accumulated side is the BIG side at scale). When the epoch-
        // rolled band bloom is present, batch docs whose bands are all
        // bloom-negative never enter the join (one-sided error — the
        // accepted set is unchanged, StreamingSpec pins equality).
        val newSigs = Dedup.signatures(near.df, "doc_id", "text").localCheckpoint(false)
        val matched = Dedup.minhashAgainstSigs(newSigs, old, minJaccard, accBandBloom)
          .select(col("new_doc").as("doc_id"))
        near.df.join(matched, Seq("doc_id"), "left_anti")
    }
    GateStages(quality.df, decon.df, exact.df, near.df, accepted)
  }

  /** Attach the gate to a document stream. `evalShinglesPath` and the
    * two output roots are parquet directories — the persisted artifacts
    * a real pipeline would keep on shared storage.
    */
  def start(
      spark: SparkSession,
      docs: Dataset[StreamDoc],
      evalShingles: DataFrame,
      acceptedDir: String,
      sigDir: String,
      minQuality: Double,
      maxOverlap: Double,
      minJaccard: Double,
      availableNow: Boolean = true,
      funnelDir: Option[String] = None,
      bloomDir: Option[String] = None,
      bloomBits: Int = 1 << 22
  ): StreamingQuery = {
    CheckpointFiles.use(docs.sparkSession)
    val w = docs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (b: Dataset[StreamDoc], epoch: Long) =>
        runEpoch(spark, b.toDF().select(col("docId").as("doc_id"), col("text")),
          evalShingles, acceptedDir, sigDir, epoch, minQuality, maxOverlap, minJaccard,
          funnelDir, bloomDir, bloomBits)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** One epoch's gate + publish — the foreachBatch body, exposed so the
    * spec can replay an epoch. Replay-idempotent by construction: the
    * dedup baseline is the STRICTLY EARLIER epochs (a replayed epoch's
    * own partial b<epoch> dir must not be read back, or the batch would
    * near-dup ITSELF — est-Jaccard 1.0 against identical signatures —
    * and the replay would accept nothing), and both writes overwrite
    * the epoch directory rather than appending.
    */
  private[graft] def runEpoch(
      spark: SparkSession,
      batch: DataFrame,
      evalShingles: DataFrame,
      acceptedDir: String,
      sigDir: String,
      epoch: Long,
      minQuality: Double,
      maxOverlap: Double,
      minJaccard: Double,
      funnelDir: Option[String] = None,
      bloomDir: Option[String] = None,
      bloomBits: Int = 1 << 22
  ): Unit = {
    val priorBloom = bloomDir.flatMap(bd => readBandBloom(spark, bd, beforeEpoch = epoch))
    val stages = gateStages(batch, evalShingles,
      readAccumulated(spark, sigDir, beforeEpoch = Some(epoch)),
      minQuality, maxOverlap, minJaccard, priorBloom)
    val kept = stages.accepted
      .localCheckpoint(false) // one computation feeds both writes
    kept.write.mode("overwrite").parquet(s"$acceptedDir/b$epoch")
    val keptSigs = Dedup.signatures(kept, "doc_id", "text").localCheckpoint(false)
    keptSigs.write.mode("overwrite").parquet(s"$sigDir/b$epoch")
    // the epoch's band-bloom companion: one tiny artifact row per epoch,
    // same overwrite-idempotent b<epoch> layout. The NEXT epoch's gate
    // ORs all earlier artifacts ([[readBandBloom]]) instead of ever
    // re-scanning signatures; compact() folds bloom dirs as-is (the
    // read-side OR is row-order-independent). The row carries
    // saturation telemetry next to the bytes (VERDICT r6 item 4): the
    // ACCUMULATED fill ratio as of this epoch — once it crosses ~0.5
    // the gate still answers correctly (one-sided error) but most
    // probes come back maybe-positive and the pruning economy is gone;
    // the documented rebuild policy (README) re-sizes into a FRESH
    // bloom dir at that threshold.
    bloomDir.foreach { bd =>
      val art = Dedup.sigBandBloom(keptSigs, bloomBits)
      val acc = priorBloom.fold(art)(graft.functions.BloomKernels.or(_, art))
      writeBandBloom(spark, art, acc, s"$bd/b$epoch")
    }
    // per-epoch funnel observability — the streaming counterpart of the
    // batch curation funnel: one (stage, survivors) row per gate stage,
    // published next to the epoch's accepted docs with the same
    // overwrite-idempotent b<epoch> layout
    funnelDir.foreach(fd => writeFunnel(spark, stages, batch, kept, fd, epoch))
  }

  /** Epoch funnel rows: (epoch, stage, n_docs) for input + each gate
    * stage. Counts are control-plane sized (one long per stage);
    * explicit-schema createDataFrame because library code must not
    * derive product encoders for driver-side constants (REPL rule).
    */
  private def writeFunnel(
      spark: SparkSession,
      stages: GateStages,
      batch: DataFrame,
      kept: DataFrame,
      funnelDir: String,
      epoch: Long
  ): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val counts = Seq(
      "1_input" -> batch.count(),
      "2_quality" -> stages.quality.count(),
      "3_decontaminated" -> stages.decontaminated.count(),
      "4_exact" -> stages.exact.count(),
      "5_near" -> stages.near.count(),
      "6_accepted" -> kept.count())
    val schema = StructType(Seq(
      StructField("epoch", LongType, nullable = false),
      StructField("stage", StringType, nullable = false),
      StructField("n_docs", LongType, nullable = false)))
    val rows: java.util.List[Row] = {
      val l = new java.util.ArrayList[Row](counts.size)
      counts.foreach { case (nm, c) => l.add(Row(epoch, nm, c)) }
      l
    }
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$funnelDir/b$epoch")
  }

  /** Everything accepted so far (union of the per-epoch directories). */
  def readAccepted(spark: SparkSession, acceptedDir: String): Option[DataFrame] =
    readAccumulated(spark, acceptedDir, beforeEpoch = None)

  /** Offline compaction for a gate output root: fold every per-epoch
    * directory at or below `upToEpoch` into a single re-written
    * `b<upToEpoch>` and delete the folded epochs. Run BETWEEN streaming
    * runs (the gate itself only ever reads, then overwrites its own
    * epoch): after 10k micro-batches the baseline union is 10k small
    * parquet dirs and every batch pays the listing + tiny-file open
    * cost; compaction restores one well-sized dir while leaving epochs
    * ABOVE the watermark untouched, so a restart resuming from a later
    * checkpoint still replays correctly. Returns the number of epoch
    * dirs folded (0 = nothing to do).
    */
  def compact(spark: SparkSession, dir: String, upToEpoch: Long): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    finishStagedCompact(spark, dir)
    val all = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d+"))
      .map(s => s.getPath.getName.drop(1).toLong)
      .sorted
    // NEVER fold the newest epoch in the directory, whatever the
    // watermark says: if the stream crashed after that epoch's write but
    // before its offset commit, the restart REPLAYS it and runEpoch
    // overwrites its b-dir — had earlier epochs been folded into that
    // id, the overwrite would silently drop their accepted docs. Only
    // the last-written epoch can be uncommitted, so epochs strictly
    // below it are safe to fold.
    val epochs = all.filter(e => e <= upToEpoch && e < all.max)
    if (epochs.size < 2) return 0
    // the folded dir takes the LARGEST FOLDED epoch's id — never the
    // raw watermark: epoch ids are monotone, so b<max-folded> can never
    // be re-issued, while a watermark above the newest epoch would name
    // a dir a FUTURE micro-batch could legitimately claim and overwrite
    val target = epochs.max
    // stage to a temp dir first: the write drains the source epochs
    // completely before any of them is deleted, and a crash mid-compact
    // leaves the original epochs intact (the dot-dir is ignored by the
    // b-prefix listing)
    val tmp = new Path(path, s".compact-b$target")
    spark.read.parquet(epochs.map(e => s"$dir/b$e"): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    epochs.foreach(e => fs.delete(new Path(path, s"b$e"), true))
    fs.rename(tmp, new Path(path, s"b$target"))
    epochs.size
  }

  /** Crash recovery for [[compact]], run before every compaction: a
    * COMPLETE staged dir (`.compact-b<t>` carrying its `_SUCCESS`
    * marker) proves the union of every then-present epoch ≤ t was fully
    * drained before the crash, so any of those epoch dirs still present
    * are exact subsets of the stage — finish the interrupted protocol
    * by deleting them and renaming the stage into place. This closes
    * BOTH crash windows: before any delete (originals intact, stage
    * re-finished) and between delete and rename (survivors ⊆ stage, no
    * loss, no double-count). An INCOMPLETE stage (no `_SUCCESS`) is
    * discarded — the originals are still intact. Safe against epoch
    * replay: [[compact]] never folds the newest epoch, so a replayed
    * epoch id is always > t and untouched here. Returns the number of
    * staged dirs finished.
    */
  private[graft] def finishStagedCompact(spark: SparkSession, dir: String): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    val staged = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("\\.compact-b\\d+"))
    staged.count { s =>
      val t = s.getPath.getName.stripPrefix(".compact-b").toLong
      if (fs.exists(new Path(s.getPath, "_SUCCESS"))) {
        fs.listStatus(path).toSeq
          .filter(d => d.isDirectory && d.getPath.getName.matches("b\\d+"))
          .filter(d => d.getPath.getName.drop(1).toLong <= t)
          .foreach(d => fs.delete(d.getPath, true))
        fs.rename(s.getPath, new Path(path, s"b$t"))
        true
      } else {
        fs.delete(s.getPath, true)
        false
      }
    }
  }

  /** The accumulated band bloom: OR of every per-epoch artifact strictly
    * below `beforeEpoch` ([[graft.llm.Sketches.bloomOrAgg]] over the
    * artifact rows — epochs-many tiny rows, a control-plane-sized
    * aggregate). None until a first epoch has published one.
    */
  private[graft] def readBandBloom(
      spark: SparkSession,
      bloomDir: String,
      beforeEpoch: Long
  ): Option[Array[Byte]] =
    readAccumulated(spark, bloomDir, beforeEpoch = Some(beforeEpoch)).map { arts =>
      arts.agg(graft.llm.Sketches.bloomOrAgg(col("bloom")).as("bloom"))
        .head().getAs[Array[Byte]](0)
    }.filter(_.nonEmpty)

  /** One artifact row plus its saturation telemetry — `n_bits` /
    * `n_set` / `fill` describe THIS epoch's artifact, `acc_n_set` /
    * `acc_fill` the accumulated OR as of this epoch (the number the
    * rebuild policy watches; it is monotone across epochs). Explicit
    * schema (library code must not derive product encoders for
    * driver-side constants — REPL rule).
    */
  private def writeBandBloom(
      spark: SparkSession,
      bloom: Array[Byte],
      accBloom: Array[Byte],
      dir: String
  ): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField, StructType}
    import graft.functions.BloomKernels
    val schema = StructType(Seq(
      StructField("bloom", BinaryType, nullable = false),
      StructField("n_bits", LongType, nullable = false),
      StructField("n_set", LongType, nullable = false),
      StructField("fill", DoubleType, nullable = false),
      StructField("acc_n_set", LongType, nullable = false),
      StructField("acc_fill", DoubleType, nullable = false)))
    val bits = BloomKernels.numBits(bloom)
    val set = BloomKernels.popcount(bloom)
    val accSet = BloomKernels.popcount(accBloom)
    val rows = java.util.Collections.singletonList(Row(
      bloom, bits, set, set.toDouble / bits, accSet, accSet.toDouble / bits))
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readAccumulated(
      spark: SparkSession,
      dir: String,
      beforeEpoch: Option[Long]
  ): Option[DataFrame] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val parts = fs.listStatus(path).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d+"))
        .filter(s => beforeEpoch.forall(e => s.getPath.getName.drop(1).toLong < e))
        .map(_.getPath.toString)
      if (parts.isEmpty) None else Some(spark.read.parquet(parts: _*))
    }
  }
}
