package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}

import graft.state.{BucketedDir, CheckpointFiles}
import graft.streaming.StreamingFeatures.{KeyEvent, KeyFeature}

/** Durable feature-table sink: the parquet analog of ralf's storage
  * connectors (dict/SQLite/Redis, ralf/state/connector.py:7-30) — a
  * materialized latest-value-per-key table that consumers point-query
  * through a [[graft.state.BucketedParquetConnector]].
  *
  * Each micro-batch merges the incoming per-key updates into the stored
  * table through [[graft.state.BucketedDir]]: the table is hash-bucketed
  * by key and a batch rewrites ONLY the buckets its keys land in. The
  * merge is one Spark job however many buckets the batch touches: each
  * task reads its buckets' stored rows, keeps the latest row of every
  * batch key ([[latest]], a per-key function), passes the other keys'
  * rows through, and writes the bucket's next version; each bucket is
  * then published with an atomic `_CURRENT` pointer swap and superseded
  * versions pruned.
  * Readers never see a partial write, storage stays bounded over a
  * long-running stream, and — the 100 TB property — write cost per
  * micro-batch is O(touched buckets), not O(table): a small batch into a
  * huge table no longer re-materializes the world.
  *
  * `keepVersions` bounds reader staleness: a reader that resolved a
  * bucket's pointer survives `keepVersions - 1` subsequent publishes of
  * that bucket before its version dir is pruned mid-scan. Long-scanning
  * concurrent readers of a hot table should raise it.
  */
object FeatureTableSink {

  /** Default bucket count — sized for test-scale tables; a real 100 TB
    * deployment picks numBuckets ~ table-size / target-file-size.
    */
  val DefaultBuckets = 16

  /** Read the current materialized table: one scan over every bucket's
    * current version (empty if never written). A point read of one key
    * goes through a [[graft.state.BucketedParquetConnector]] on the same
    * root instead: a driver-side read of the key's bucket.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    BucketedDir.read(spark, root).getOrElse(Seq.empty[KeyFeature].toDF())
  }

  /** Merge one batch of updates into the stored table. Exposed for
    * batch-mode backfills; the streaming sink calls this per
    * micro-batch.
    */
  def merge(
      spark: SparkSession,
      root: String,
      batch: Dataset[KeyFeature],
      version: Long,
      numBuckets: Int = DefaultBuckets,
      keepVersions: Int = 2
  ): Unit = {
    // Publish each touched bucket strictly above its current version
    // (and at least the micro-batch id) — a replayed micro-batch id
    // (restart before offset commit) must never overwrite the directory
    // a reader is lazily scanning.
    BucketedDir.merge(spark, root, batch.toDF(), "key", numBuckets, Schema,
      minVersion = version, keepVersions = keepVersions)((stored, rows) => Seq(latest(stored ++ rows)))
    ()
  }

  /** Merge a batch of [[KeyEvent]]s — the sink side of the eviction
    * cascade (ralf/operator.py:248-262): a key whose LAST event in the
    * batch is a tombstone is deleted from the stored table; other keys
    * merge latest-wins as in [[merge]]. "Last" is by (ord, evicted):
    * an update and its eviction at the same ord resolve to the
    * eviction, matching the operator's processing order. The last
    * event is picked inside the per-key merge, so the batch crosses one
    * shuffle: the merge's own, on the bucket.
    */
  def mergeEvents(
      spark: SparkSession,
      root: String,
      batch: Dataset[KeyEvent],
      version: Long,
      numBuckets: Int = DefaultBuckets,
      keepVersions: Int = 2
  ): Unit = {
    BucketedDir.merge(spark, root, batch.toDF(), "key", numBuckets, Schema,
      minVersion = version, keepVersions = keepVersions) { (stored, events) =>
      val last = events.maxBy(e => (e.getLong(1), e.getBoolean(4)))
      if (last.getBoolean(4)) Nil
      else Seq(latest(stored :+ Row(last.get(0), last.get(1), last.get(2), last.get(3))))
    }
    ()
  }

  /** The stored table's schema: one [[KeyFeature]] per key. */
  private val Schema = Encoders.product[KeyFeature].schema

  /** A key's winning row: highest event order (ord), numUpdates only as
    * a tie-break for re-emissions of the same ord. Never numUpdates
    * alone — the TTL path in latestPerKey resets that counter, and a
    * stale high count must not shadow fresh data.
    */
  private def latest(rows: Seq[Row]): Row = rows.maxBy(r => (r.getLong(1), r.getLong(3)))

  /** Attach the sink to a stream of KeyFeature updates. */
  def start(
      spark: SparkSession,
      updates: Dataset[KeyFeature],
      root: String,
      availableNow: Boolean = true,
      numBuckets: Int = DefaultBuckets,
      keepVersions: Int = 2
  ): StreamingQuery = {
    CheckpointFiles.use(updates.sparkSession)
    val w = updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[KeyFeature], id: Long) =>
        merge(spark, root, batch, id, numBuckets, keepVersions)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
