package graft.state

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Names

/** Hash-bucketed versioned parquet table: `root/bNNNNN/` holds one
  * [[VersionedDir]] per key-hash bucket, so a merge rewrites ONLY the
  * buckets that contain batch keys — O(batch-coverage) write cost per
  * merge instead of the O(table) full rewrite of a single flat
  * VersionedDir. This is the at-scale analog of the reference's
  * per-record upserts (ralf/state/sqlite_connector.py:30-38): at 100 TB
  * a feature table absorbing small update batches must not
  * re-materialize the world every micro-batch.
  *
  * Consistency: each bucket publish is an atomic pointer swap, so a
  * reader sees every bucket at some committed version — but a
  * multi-bucket merge is not a cross-bucket snapshot (bucket A may be
  * post-merge while B is still pre-merge for a concurrently-resolving
  * reader). That matches the reference's granularity: its connectors
  * upsert record-at-a-time with no cross-record transaction.
  *
  * The bucket count is pinned at table creation in a `_BUCKETS` file —
  * keys are routed by `pmod(xxhash64(key), numBuckets)`, so changing the
  * count would strand stale rows in their old buckets. Re-bucketing
  * requires a full rewrite ([[merge]] refuses a mismatched count).
  *
  * Two reads: [[read]] scans every bucket's current version as one
  * DataFrame (the bulk data plane), and [[lookup]] reads one key's
  * bucket on the driver through [[currentRows]], the function merge
  * tasks read stored rows with.
  */
object BucketedDir {

  def bucketName(b: Int): String = f"b$b%05d"

  /** Bucket id of a key — the single routing expression every write
    * uses. Point queries evaluate the SAME expression tree interpreted
    * on the driver ([[routeKey]]; BucketedSinkSpec pins the two equal
    * across key types). `xxhash64(null)` is the seed constant, so null
    * keys route to a fixed bucket.
    */
  def bucketCol(keyCol: String, numBuckets: Int): Column =
    pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")

  /** Whether the table at `root` has been created, failing if it was
    * created with a bucket count other than `numBuckets`.
    */
  private[state] def pinned(spark: SparkSession, root: String, numBuckets: Int): Boolean = {
    val hfs = VersionedDir.fs(spark, root)
    val f = new Path(new Path(root), "_BUCKETS")
    hfs.exists(f) && {
      val in = hfs.open(f)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt finally in.close()
      require(stored == numBuckets,
        s"table at $root was created with $stored buckets, not $numBuckets; re-bucketing requires a full rewrite")
      true
    }
  }

  /** Pin `numBuckets` on the first merge into `root`. A root holding a
    * flat [[VersionedDir]] table (its own `_CURRENT` pointer) is refused
    * before anything is written: once buckets exist, readers resolve
    * only them, so a bucketed merge there would shadow every flat row.
    */
  private def pinBucketCount(spark: SparkSession, root: String, numBuckets: Int): Unit =
    if (!pinned(spark, root, numBuckets)) {
      val hfs = VersionedDir.fs(spark, root)
      require(!hfs.exists(new Path(new Path(root), "_CURRENT")),
        s"$root holds a flat VersionedDir table, not a bucketed one; a bucketed merge would shadow its rows")
      hfs.mkdirs(new Path(root))
      val out = hfs.create(new Path(new Path(root), "_BUCKETS"), true)
      try out.write(numBuckets.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** Read the current table: ONE parquet scan over every bucket's
    * current version dir (None if never written). The bucket count is
    * not needed to read.
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val rootPath = new Path(root)
    val hfs = VersionedDir.fs(spark, root)
    if (!hfs.exists(rootPath)) None
    else {
      val paths = hfs.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d+"))
        .sortBy(_.getPath.getName)
        .flatMap(s => VersionedDir.currentVersion(hfs, s.getPath))
        .map(_.toString)
      if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    }
  }

  /** The stored rows of bucket `b`'s current version under `root`, read
    * file by file with `read` ([[BucketMergeTask.reader]]): the one read
    * of stored bucket rows, in merge tasks and [[lookup]]s alike. Empty
    * if the bucket was never written. The rows are the reader's, reused
    * from one to the next, and the reader closes a file when its rows
    * run out: outside a task nothing else closes it, so a driver-side
    * caller drains the iterator.
    */
  private[state] def currentRows(
      fs: FileSystem,
      root: String,
      b: Int,
      read: PartitionedFile => Iterator[InternalRow]
  ): Iterator[InternalRow] =
    VersionedDir.currentVersion(fs, new Path(new Path(root), bucketName(b)))
      .iterator.flatMap(v => fs.listStatus(v).iterator)
      // Hadoop's markers and checksums start with `_` or `.`
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .flatMap(s => read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(s.getPath), 0L, s.getLen,
        Array.empty[String], s.getModificationTime, s.getLen)))

  /** The stored row of `key` in a table of `numBuckets` buckets and the
    * given `schema` (None on a miss, a NULL key included): a point read
    * on the driver that plans no query and runs no Spark job. It routes
    * the key to its bucket, resolves that bucket's `_CURRENT` (so a
    * lookup sees the latest published version) and reads it with `read`,
    * comparing keys as a merge groups them ([[BucketMergeTask.keyOf]]).
    * The key is cast to the key column's type once; routing and the key
    * test both use the cast value. The caller checks the bucket count
    * ([[pinned]]).
    */
  private[state] def lookup(
      spark: SparkSession,
      root: String,
      numBuckets: Int,
      keyCol: String,
      schema: StructType,
      read: PartitionedFile => Iterator[InternalRow]
  )(key: Any): Option[Row] = {
    val typed = typedKey(key, schema(keyCol).dataType)
    val want = BucketMergeTask.keyOf(StructType(Seq(schema(keyCol))), keyCol)(InternalRow(typed.value))
    if (want == null) None
    else {
      val keyOf = BucketMergeTask.keyOf(schema, keyCol)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      // foldLeft, not find: reading to the end closes the reader
      currentRows(VersionedDir.fs(spark, root), root, route(typed, numBuckets), read)
        .foldLeft(Option.empty[Row]) { (hit, r) =>
          hit.orElse(if (keyOf(r) == want) Some(toRow(r).asInstanceOf[Row]) else None)
        }
    }
  }

  /** Driver-side interpreted eval of the write-path routing expression
    * ([[bucketCol]]; `keyType` must be the stored key column's type —
    * xxhash64 of an int and a long differ), so routing a point read
    * launches no Spark job (BucketedSinkSpec pins it equal to the write
    * path across key types).
    */
  private[graft] def routeKey(key: Any, keyType: DataType, nb: Int): Int = route(typedKey(key, keyType), nb)

  /** `functions.xxhash64` is `XxHash64(_, seed = 42)`; `pmod` keeps the
    * bucket non-negative, as on the write side.
    */
  private def route(key: Literal, nb: Int): Int =
    Pmod(new XxHash64(Seq(key)), Literal(nb.toLong)).eval(null).asInstanceOf[Long].toInt

  /** `key` cast to `keyType`, as the literal both routing and the key
    * test of a lookup read.
    */
  private def typedKey(key: Any, keyType: DataType): Literal =
    Literal(Cast(Literal(key), keyType, Some("UTC")).eval(), keyType)

  /** Merge a keyed batch, rewriting only the buckets its keys hash
    * into. For each batch key k, the key's new stored rows are
    * `mergeFn(stored rows of k, batch rows of k)`: the first in the
    * table `schema`, the second in the batch's schema, the result in the
    * table `schema` (Nil deletes the key). Stored rows of keys outside
    * the batch stay as they are. Each touched bucket publishes its next
    * version strictly above its current one (and `minVersion` — replay
    * protection, see [[VersionedDir.publish]]). Untouched buckets' files
    * are not rewritten (byte-identical across the merge;
    * BucketedSinkSpec pins this).
    *
    * Keys group by value (strings, numbers, NULL; BINARY by content); a
    * key column of another type is refused before anything is written.
    * The batch's key column must have the table's key type: the bucket
    * is a hash of the key value as typed.
    *
    * A merge is ONE Spark job whatever the number of touched buckets — a
    * 100 TB table wants numBuckets in the thousands (numBuckets ~
    * tableSize / targetBucketBytes), so merges touching many buckets are
    * the norm, and per-bucket job latency must not multiply. The batch is
    * consumed once: it is shuffled on the bucket id, and each task, for
    * each bucket it holds, resolves the bucket's `_CURRENT`, streams the
    * stored version through Spark's Parquet reader, passes stored rows of
    * keys outside the batch through, and applies `mergeFn` to the rest
    * ([[BucketMergeTask]]). The same job writes the result partitioned by
    * bucket into a hidden stage dir, one file per bucket, and observes
    * the touched bucket set. The driver then moves each bucket's
    * partition dir to its next version dir and swaps that bucket's
    * pointer, buckets running concurrently, so on HDFS or S3 their round
    * trips overlap. A local root forks no process along the way
    * ([[LocalFs]]). A touched bucket whose merge result is empty (its
    * last key deleted) publishes an empty version on its own, after the
    * others, on the caller's thread. A failure mid-publish lets every
    * other bucket finish publishing, then the merge throws the first
    * failure in bucket order — the reference's record-at-a-time
    * granularity — and a replay is version-guarded by `minVersion`.
    *
    * Returns the touched bucket ids. The touched set is a <=numBuckets
    * observed metric — control-plane sized by construction.
    */
  def merge(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      keyCol: String,
      numBuckets: Int,
      schema: StructType,
      minVersion: Long = 0L,
      keepVersions: Int = 2
  )(mergeFn: (Seq[Row], Seq[Row]) => Seq[Row]): Seq[Int] = {
    BucketMergeTask.validate(batch.schema, schema, keyCol)
    pinBucketCount(spark, root, numBuckets)
    val bkt = Names.fresh(batch.columns.toSeq ++ schema.fieldNames, "_bkt")
    val task = BucketMergeTask(spark, root, batch.schema, schema, keyCol, mergeFn)
    val seen = new Observation()
    val keyed = Bridge.logicalPlan(batch.withColumn(bkt, bucketCol(keyCol, numBuckets))
      .observe(seen, collect_set(col(bkt)).as(bkt)))
    val bktAttr = keyed.output.last
    // plan and write in the batch's own session: a streaming batch lives
    // in the stream's session, whose listeners complete the observation
    val session = batch.sparkSession
    graft.plans.Strategies.install(session)
    val merged = BucketMerge(task, math.min(numBuckets, spark.sparkContext.defaultParallelism), bktAttr,
      DataTypeUtils.toAttributes(schema) :+ bktAttr, keyed)
    val rootPath = new Path(root)
    val stage = new Path(rootPath, StageDir)
    // the stage root's _SUCCESS is never read (each bucket gets its own)
    Bridge.ofRows(session, merged)
      .write.mode(SaveMode.Overwrite).partitionBy(bkt)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .options(VersionedDir.writeOptions(spark, root))
      .parquet(stage.toString)
    val touched = seen.get(bkt).asInstanceOf[collection.Seq[Int]].toSeq.sorted
    val hfs = VersionedDir.fs(spark, root)
    val bRoots = touched.map(b => b -> new Path(rootPath, bucketName(b))).toMap
    val moved = perBucket(touched) { b =>
      val staged = new Path(stage, s"$bkt=$b")
      val found = hfs.exists(staged)
      if (found) {
        // a version dir left by a crash before its pointer swap must go
        // first: rename onto an existing dir would nest inside it
        val nextV = VersionedDir.nextVersion(VersionedDir.currentVersion(hfs, bRoots(b)), minVersion)
        val vDir = new Path(bRoots(b), VersionedDir.versionDir(nextV))
        hfs.delete(vDir, true)
        hfs.mkdirs(bRoots(b))
        hfs.create(new Path(staged, "_SUCCESS"), true).close()
        require(hfs.rename(staged, vDir), s"could not move $staged to $vDir")
        VersionedDir.swapAndPrune(hfs, bRoots(b), nextV, keepVersions)
      }
      found
    }
    // empty merge result: no partition dir, so publish an empty version
    // with the table schema. That is a Spark job, so it runs here on
    // the caller's thread, under its job group, local properties and
    // SQL execution id.
    touched.filterNot(moved).foreach { b =>
      VersionedDir.publish(spark, bRoots(b).toString,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), minVersion, keepVersions)
    }
    hfs.delete(stage, true)
    touched
  }

  /** Hidden dir under the table root that a merge's partitioned write
    * lands in before each bucket dir moves into place. Readers only
    * resolve `b*` dirs, so a stage left by a crash is invisible, and
    * the next merge's overwrite clears it. One stage per table: a table
    * has one writer at a time, as its unlocked version choice already
    * requires.
    */
  private[graft] val StageDir = "_stage"

  /** Run the filesystem work `f` once per bucket on a pool of at most one
    * thread per core: on HDFS or S3 each call is a round trip, so
    * buckets overlap their waits. Every bucket settles before the first
    * failure in bucket order is rethrown. Only filesystem calls belong
    * here; Spark jobs stay on the caller's thread.
    */
  private def perBucket[A](buckets: Seq[Int])(f: Int => A): Map[Int, A] =
    if (buckets.isEmpty) Map.empty
    else {
      val pool = Executors.newFixedThreadPool(math.min(buckets.size, Runtime.getRuntime.availableProcessors))
      try {
        val settled = buckets.map(b => pool.submit((() => f(b)): Callable[A])).map(fut => Try(fut.get()))
        buckets.zip(settled.map {
          case Failure(e: ExecutionException) => throw e.getCause
          case r => r.get
        }).toMap
      } finally pool.shutdown()
    }
}
