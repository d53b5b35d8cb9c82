package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.metrics.Capture
import graft.state.{BucketedDir, BucketedParquetConnector, VersionedDir}

/** The 100 TB sink property: a merge into a bucketed table rewrites ONLY
  * the buckets its batch keys hash into — every untouched bucket's files
  * stay byte-identical (VERDICT r2 "incremental sink merge"). Also pins
  * the bucket-count guard and the bucketed read path.
  */
class BucketedSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("a", StringType, nullable = true)))

  private def df(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  private def tmp() = Files.createTempDirectory("graft-bktsink").toString

  /** Every file under each bucket dir: bucket -> sorted (relPath, md5). */
  private def snapshot(root: String): Map[String, Seq[(String, String)]] = {
    val rootP = Paths.get(root)
    Files.list(rootP).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("b\\d+"))
      .map { bdir =>
        val files = Files.walk(bdir).iterator().asScala.toSeq
          .filter(Files.isRegularFile(_))
          .map { f =>
            val md5 = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f))
            (bdir.relativize(f).toString, md5.map("%02x".format(_)).mkString)
          }
          .sortBy(_._1)
        bdir.getFileName.toString -> files
      }.toMap
  }

  private def bucketOf(key: Long, numBuckets: Int): Int =
    // the same Spark expression the writer uses — never a driver-side hash
    df(key -> "x").select(BucketedDir.bucketCol("key", numBuckets)).collect()(0).getInt(0)

  test("driver-side point-query routing == the write-path bucket expression (int/long/string/null)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.IntegerType
    val nb = 17
    // longs: extremes, sign boundary, typical ids
    val longKeys = Seq(Long.MinValue, -987654321L, -1L, 0L, 1L, 42L, 987654321L, Long.MaxValue)
    spark.createDataFrame(longKeys.map(k => Row(k, "x")).asJava, schema)
      .select(col("key"), BucketedDir.bucketCol("key", nb).as("b")).collect().foreach { r =>
        assert(BucketedDir.routeKey(r.getLong(0), LongType, nb) == r.getInt(1),
          s"long key ${r.getLong(0)}")
      }
    // ints hash differently from the same-valued long — keyType matters
    val intSchema = StructType(Seq(StructField("key", IntegerType, nullable = false)))
    val intKeys = Seq(Int.MinValue, -7, 0, 7, 42, Int.MaxValue)
    spark.createDataFrame(intKeys.map(k => Row(k)).asJava, intSchema)
      .select(col("key"), BucketedDir.bucketCol("key", nb).as("b")).collect().foreach { r =>
        assert(BucketedDir.routeKey(r.getInt(0), IntegerType, nb) == r.getInt(1),
          s"int key ${r.getInt(0)}")
      }
    // strings: empty, ascii, multi-byte unicode
    val strSchema = StructType(Seq(StructField("key", StringType, nullable = true)))
    val strKeys = Seq("", "a", "user:42", "käse", "日本語テキスト", "a" * 300)
    spark.createDataFrame(strKeys.map(k => Row(k)).asJava, strSchema)
      .select(col("key"), BucketedDir.bucketCol("key", nb).as("b")).collect().foreach { r =>
        assert(BucketedDir.routeKey(r.getString(0), StringType, nb) == r.getInt(1),
          s"string key '${r.getString(0).take(20)}'")
      }
    // null key routes to the xxhash64 seed bucket on both paths
    val nullBucket = spark.createDataFrame(Seq(Row(null)).asJava, strSchema)
      .select(BucketedDir.bucketCol("key", nb)).collect()(0).getInt(0)
    assert(BucketedDir.routeKey(null, StringType, nb) == nullBucket, "null key")
  }

  test("merge rewrites only the buckets containing batch keys; others stay byte-identical") {
    val root = tmp()
    val nb = 8
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    val before = snapshot(root)
    assert(before.size > 1, s"seed batch should span several buckets, got ${before.keys}")

    val hot = 7L
    val hotBucket = BucketedDir.bucketName(bucketOf(hot, nb))
    c.upsert(df(hot -> "updated"))
    val after = snapshot(root)

    for ((b, files) <- before if b != hotBucket)
      assert(after(b) == files, s"untouched bucket $b was rewritten")
    assert(after(hotBucket) != before(hotBucket), "touched bucket must advance")
    // and the table reads back correctly through the single-scan path
    val got = c.bulkQuery().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(hot) == "updated" && got.size == 40)
  }

  test("delete rewrites only the deleted keys' buckets") {
    val root = tmp()
    val nb = 8
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    val before = snapshot(root)
    val victim = 13L
    val vb = BucketedDir.bucketName(bucketOf(victim, nb))
    c.delete(Seq(victim))
    val after = snapshot(root)
    for ((b, files) <- before if b != vb)
      assert(after(b) == files, s"untouched bucket $b was rewritten by delete")
    assert(c.pointQuery(victim).isEmpty && c.count() == 39)
  }

  test("pointQuery reads ONLY the key's hash bucket") {
    val root = tmp()
    val nb = 8
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    val key = 7L
    val keep = BucketedDir.bucketName(bucketOf(key, nb))
    // Physically remove every OTHER bucket: if the lookup touched any of
    // them it would fail; succeeding proves the scan is bucket-pruned.
    Files.list(Paths.get(root)).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("b\\d+"))
      .filter(_.getFileName.toString != keep)
      .foreach { bdir =>
        Files.walk(bdir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    assert(c.pointQuery(key).map(_.getString(1)) == Some(s"v$key"))
    // a key routed to a (now-absent) bucket is a clean miss, not an error
    val gone = (1L to 40L).find(k => bucketOf(k, nb) != bucketOf(key, nb)).get
    assert(c.pointQuery(gone).isEmpty)
  }

  test("concurrent publishes: numBuckets >> pool still lands every touched bucket") {
    // 64 buckets touched at once, all written by one partitioned write
    // and then moved into place bucket by bucket (local[4] session):
    // every bucket must land its rows and an immediate second merge must
    // advance versions without interference.
    val root = tmp()
    val nb = 64
    val keys = (1L to 400L)
    val touched = BucketedDir.merge(spark, root, df(keys.map(k => k -> s"v$k"): _*),
      "key", nb, schema)((stored, rows) => stored ++ rows)
    assert(touched.size > 8, s"expected the batch to span >8 buckets, got ${touched.size}")
    val got = BucketedDir.read(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 400 && keys.forall(k => got(k) == s"v$k"),
      "every row must land exactly once across all concurrently-published buckets")
    // second wide merge on the same table: versions advance per bucket
    BucketedDir.merge(spark, root, df(keys.map(k => k -> s"w$k"): _*),
      "key", nb, schema, minVersion = 1L)((_, rows) => rows)
    val got2 = BucketedDir.read(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2.size == 400 && keys.forall(k => got2(k) == s"w$k"))
  }

  test("a first merge into a flat VersionedDir root is refused") {
    import spark.implicits._
    import graft.streaming.StreamingFeatures.KeyFeature
    val root = tmp()
    VersionedDir.publish(spark, root, (1 to 20).map(i => KeyFeature(s"k$i", 1, i.toDouble, 1)).toDS().toDF())
    val before = Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet
    val e = intercept[IllegalArgumentException](graft.streaming.FeatureTableSink.merge(spark, root,
      Seq(KeyFeature("k7", 5, 99.0, 2)).toDS(), 0, numBuckets = 8))
    assert(e.getMessage.contains("flat VersionedDir table"), e.getMessage)
    // no _BUCKETS, no bucket dir, no stage: the flat rows are not shadowed
    assert(Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet == before)
    assert(VersionedDir.read(spark, root).get.count() == 20)
  }

  test("a point lookup runs no Spark job and sees the latest version") {
    val root = tmp()
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 8)
    assert(c.pointQuery(1L).isEmpty, "a table never written is a miss")
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    val Capture.Result(got, _, jobs, _) = Capture.run(spark) {
      ((1L to 40L) ++ Seq(41L, -1L)).map(k => k -> c.pointQuery(k).map(_.getString(1)))
    }
    assert(jobs == 0, s"lookups ran $jobs Spark jobs")
    assert(got == (1L to 40L).map(k => k -> Some(s"v$k")) ++ Seq(41L -> None, -1L -> None))
    c.upsert(df(7L -> "w7"))
    assert(c.pointQuery(7L).map(_.getString(1)) == Some("w7"))
    // another connector on the same root with another count fails loudly
    val wrong = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 16)
    intercept[IllegalArgumentException](wrong.pointQuery(7L))
  }

  test("a pointer read against its predecessor's checksum resolves to the newest committed version") {
    val root = tmp()
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 1)
    c.upsert(df(1L -> "old"))
    c.upsert(df(1L -> "new"))
    val bucket = new org.apache.hadoop.fs.Path(root, BucketedDir.bucketName(0))
    val hfs = VersionedDir.fs(spark, root)
    val versions = VersionedDir.committedVersions(hfs, bucket)
    assert(versions.size == 2)
    // the swap's window: the pointer's bytes name another version (same
    // length) while its `.crc` still holds the old pointer's checksum
    val ptr = Paths.get(bucket.toUri.getPath, "_CURRENT")
    Files.write(ptr, versions.head.getName.getBytes("UTF-8"))
    assert(Files.exists(Paths.get(bucket.toUri.getPath, "._CURRENT.crc")))
    assert(VersionedDir.currentVersion(hfs, bucket).map(_.getName) == Some(versions.last.getName))
    assert(c.pointQuery(1L).map(_.getString(1)) == Some("new"))
  }

  test("lookups racing 40 merges into a one-bucket table see no exception") {
    import spark.implicits._
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    val root = tmp()
    def merge(i: Int): Unit =
      FeatureTableSink.merge(spark, root, Seq(KeyFeature("k", i, i.toDouble, i)).toDS(), i, numBuckets = 1)
    merge(0)
    val c = new BucketedParquetConnector(spark, "key", Encoders.product[KeyFeature].schema, root, numBuckets = 1)
    @volatile var done = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val lookups = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      try while (!done) {
        assert(c.pointQuery("k").isDefined)
        lookups.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    reader.start()
    try (1 to 40).foreach(merge)
    finally { done = true; reader.join() }
    assert(failure.get == null, s"a lookup failed after ${lookups.get} lookups: ${failure.get}")
    assert(lookups.get > 0)
    assert(c.pointQuery("k").map(_.getAs[Double]("value")) == Some(40.0))
  }

  test("bucket count is pinned: a mismatched merge is refused") {
    val root = tmp()
    new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 8)
      .upsert(df(1L -> "a"))
    val wrong = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 16)
    intercept[IllegalArgumentException](wrong.upsert(df(2L -> "b")))
  }

  test("streaming sink merge is bucket-pruned end to end") {
    import spark.implicits._
    import graft.streaming.StreamingFeatures.KeyFeature
    val root = tmp()
    val seed = (1 to 40).map(i => KeyFeature(s"k$i", 1, i.toDouble, 1)).toDS()
    graft.streaming.FeatureTableSink.merge(spark, root, seed, 0, numBuckets = 8)
    val before = snapshot(root)
    assert(before.size > 1)
    graft.streaming.FeatureTableSink.merge(spark, root,
      Seq(KeyFeature("k7", 5, 99.0, 2)).toDS(), 1, numBuckets = 8)
    val after = snapshot(root)
    val changed = before.keys.filter(b => after(b) != before(b))
    assert(changed.size == 1, s"exactly one bucket should change, got: $changed")
    val t = graft.streaming.FeatureTableSink.read(spark, root).as[KeyFeature].collect()
    assert(t.length == 40 && t.find(_.key == "k7").get.value == 99.0)
  }

  test("a merge into a local root starts no process (chmod runs in-process)") {
    import spark.implicits._
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.{KeyEvent, KeyFeature}
    val root = tmp()
    val keys = (1 to 200).map(i => s"k$i")
    val vb = BucketedDir.routeKey("k1", StringType, FeatureTableSink.DefaultBuckets)
    val victims = keys.filter(k => BucketedDir.routeKey(k, StringType, FeatureTableSink.DefaultBuckets) == vb)
    val updates = keys.map(k => KeyFeature(k, 1, 1.0, 1)).toDS()
    val evictions = victims.map(k => KeyEvent(k, 2, 0.0, 0, evicted = true)).toDS()
    // a fresh 16-bucket table, then an eviction that empties one bucket
    // (the empty-version publish)
    val forks = Forks.under(root) {
      FeatureTableSink.merge(spark, root, updates, 0)
      FeatureTableSink.mergeEvents(spark, root, evictions, 1)
    }
    assert(forks.isEmpty, s"the merges started processes, e.g. ${forks.take(3)}")
    assert(Files.list(Paths.get(root)).iterator().asScala
      .count(_.getFileName.toString.matches("b\\d+")) == FeatureTableSink.DefaultBuckets)
    assert(FeatureTableSink.read(spark, root).count() == keys.size - victims.size)
  }

  test("a local merge leaves the files and modes Hadoop's stock local filesystem leaves") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.spark.sql.functions.col
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.stocklocal.impl", classOf[StockLocalFs].getName)
    /** Relative path -> mode of everything under `root`, with the write's
      * job UUID and task number dropped from parquet part names.
      */
    def tree(root: String): Map[String, String] = {
      val r = Paths.get(root)
      Files.walk(r).iterator().asScala.toSeq.filter(_ != r).map { p =>
        r.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]{36}", "part-*") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    def mergeTwice(root: String): Unit = {
      val batch = (1 to 200).map(i => KeyFeature(s"k$i", 1, i.toDouble, 1)).toDS()
      FeatureTableSink.merge(spark, root, batch, 0)
      FeatureTableSink.merge(spark, root, batch.filter(col("value") < 20), 1)
    }
    val local = tmp()
    val stock = tmp()
    mergeTwice(local)
    mergeTwice(s"stocklocal://$stock")
    val got = tree(local)
    assert(got == tree(stock))
    assert(got.keys.exists(_.endsWith(".parquet.crc")) && got.keys.exists(_.endsWith("_CURRENT.crc")))
    got.foreach { case (rel, mode) =>
      val dir = Files.isDirectory(Paths.get(local, rel))
      assert(mode == (if (dir) "rwxr-xr-x" else "rw-r--r--"), rel)
    }
  }

  test("LocalFs sets the modes the shell chmod path sets, and fails on a missing path as it does") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    import graft.state.LocalFs
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = new LocalFs
    ours.initialize(java.net.URI.create("file:///"), conf)
    val stock = new LocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val dir = tmp()
    val (a, b) = (new HPath(dir, "a"), new HPath(dir, "b"))
    Seq(a, b).foreach(ours.create(_).close())
    def mode(p: HPath) = Files.getPosixFilePermissions(Paths.get(p.toString))
    Seq("600", "640", "751", "704", "000", "777").foreach { m =>
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      ours.setPermission(a, perm)
      stock.setPermission(b, perm)
      assert(mode(a) == mode(b) && PosixFilePermissions.toString(mode(a)) == perm.toString, m)
    }
    val missing = new HPath(dir, "missing")
    intercept[java.io.IOException](stock.setPermission(missing, FsPermission.getFileDefault))
    intercept[java.io.IOException](ours.setPermission(missing, FsPermission.getFileDefault))
    assert(!Files.exists(Paths.get(missing.toString)))
  }

  /** Latest-wins upsert merge, as BucketedParquetConnector.upsert runs it. */
  private val upsertFn: (Seq[Row], Seq[Row]) => Seq[Row] = (_, rows) => rows

  /** Run `body` under a fresh job group: (its result, the Spark jobs it ran). */
  test("a merge touching 64 buckets runs no more Spark jobs than one touching 1") {
    val root = tmp()
    val nb = 64
    val keys = 1L to 400L
    BucketedDir.merge(spark, root, df(keys.map(k => k -> s"v$k"): _*), "key", nb, schema)(upsertFn)
    val Capture.Result(one, _, oneJobs, _) = Capture.run(spark) {
      BucketedDir.merge(spark, root, df(7L -> "one"), "key", nb, schema)(upsertFn)
    }
    val Capture.Result(wide, _, wideJobs, _) = Capture.run(spark) {
      BucketedDir.merge(spark, root, df(keys.map(k => k -> s"w$k"): _*), "key", nb, schema)(upsertFn)
    }
    val (oneTouched, wideTouched) = (one.size, wide.size)
    assert(oneTouched == 1 && wideTouched == nb, s"touched $oneTouched and $wideTouched buckets")
    assert(oneJobs > 0 && wideJobs <= oneJobs,
      s"a 64-bucket merge ran $wideJobs jobs, a 1-bucket merge $oneJobs")
    val got = BucketedDir.read(spark, root).get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 400 && keys.forall(k => got(k) == s"w$k"))
    // one parquet file per bucket version: point-query cost stays flat
    (0 until nb).foreach { b =>
      val bdir = Paths.get(root, BucketedDir.bucketName(b))
      val cur = bdir.resolve(new String(Files.readAllBytes(bdir.resolve("_CURRENT")), "UTF-8").trim)
      assert(Files.list(cur).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) == 1,
        s"bucket $b")
    }
  }

  test("a stage dir left by a crashed merge is invisible to readers; the next merge succeeds") {
    val root = tmp()
    val nb = 8
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    // the partitioned write of a merge that crashed before any move
    df((1L to 40L).map(k => k -> "stale"): _*).withColumn("_bkt", BucketedDir.bucketCol("key", nb))
      .write.partitionBy("_bkt").parquet(Paths.get(root, BucketedDir.StageDir).toString)
    def table = c.bulkQuery().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(table == (1L to 40L).map(k => k -> s"v$k").toMap)
    assert(c.pointQuery(7L).map(_.getString(1)) == Some("v7"))
    c.upsert(df(7L -> "updated"))
    assert(table == (1L to 40L).map(k => k -> (if (k == 7L) "updated" else s"v$k")).toMap)
    assert(!Files.exists(Paths.get(root, BucketedDir.StageDir)), "the merge clears its stage dir")
  }

  test("a committed version whose pointer swap never ran is replaced, not nested, by the next merge") {
    val root = tmp()
    val nb = 8
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df((1L to 40L).map(k => k -> s"v$k"): _*))
    val bdir = Paths.get(root, BucketedDir.bucketName(bucketOf(7L, nb)))
    def pointer = new String(Files.readAllBytes(bdir.resolve("_CURRENT")), "UTF-8").trim
    val nextV = VersionedDir.versionOf(pointer).get + 1
    val vNext = bdir.resolve(VersionedDir.versionDir(nextV))
    // a crash between the move into v<next> and the pointer swap
    df(7L -> "crashed", 999L -> "ghost").coalesce(1).write.parquet(vNext.toString)
    assert(Files.exists(vNext.resolve("_SUCCESS")))
    assert(c.pointQuery(7L).map(_.getString(1)) == Some("v7"), "readers follow the pointer")
    c.upsert(df(7L -> "updated"))
    assert(pointer == VersionedDir.versionDir(nextV))
    assert(!Files.list(vNext).iterator().asScala.exists(Files.isDirectory(_)),
      "the new version must replace the leftover dir, not nest inside it")
    val got = c.bulkQuery().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (1L to 40L).map(k => k -> (if (k == 7L) "updated" else s"v$k")).toMap)
  }

  test("deleting a bucket's only key publishes an empty version with the table schema") {
    val root = tmp()
    val nb = 8
    val victim = 7L
    val vb = bucketOf(victim, nb)
    val keys = (1L to 40L).filter(k => k == victim || bucketOf(k, nb) != vb)
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df(keys.map(k => k -> s"v$k"): _*))
    val bdir = Paths.get(root, BucketedDir.bucketName(vb))
    val before = new String(Files.readAllBytes(bdir.resolve("_CURRENT")), "UTF-8").trim
    c.delete(Seq(victim))
    val after = new String(Files.readAllBytes(bdir.resolve("_CURRENT")), "UTF-8").trim
    assert(after != before, "the emptied bucket must publish a new version")
    assert(spark.read.parquet(bdir.resolve(after).toString).count() == 0)
    val bulk = c.bulkQuery()
    assert(bulk.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType))
    assert(bulk.count() == keys.size - 1)
    assert(c.pointQuery(victim).isEmpty)
  }

  test("mergeEvents evicting every key of a bucket publishes an empty version") {
    import spark.implicits._
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.{KeyEvent, KeyFeature}
    val root = tmp()
    val nb = 8
    val keys = (1 to 40).map(i => s"k$i")
    FeatureTableSink.mergeEvents(spark, root,
      keys.map(k => KeyEvent(k, 1, 1.0, 1, evicted = false)).toDS(), 0, numBuckets = nb)
    val vb = BucketedDir.routeKey("k1", StringType, nb)
    val victims = keys.filter(k => BucketedDir.routeKey(k, StringType, nb) == vb)
    FeatureTableSink.mergeEvents(spark, root,
      victims.map(k => KeyEvent(k, 2, 0.0, 0, evicted = true)).toDS(), 1, numBuckets = nb)
    val bdir = Paths.get(root, BucketedDir.bucketName(vb))
    val cur = new String(Files.readAllBytes(bdir.resolve("_CURRENT")), "UTF-8").trim
    assert(VersionedDir.versionOf(cur).contains(1L))
    assert(spark.read.parquet(bdir.resolve(cur).toString).count() == 0)
    val t = FeatureTableSink.read(spark, root)
    assert(t.schema.map(f => f.name -> f.dataType) ==
      Encoders.product[KeyFeature].schema.map(f => f.name -> f.dataType))
    assert(t.as[KeyFeature].collect().map(_.key).sorted.toSeq == keys.filterNot(victims.contains).sorted)
  }

  test("empty batches touch no bucket: table byte-identical, no stage dir left") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = tmp()
    val nb = 8
    BucketedDir.merge(spark, root, df((1L to 40L).map(k => k -> s"v$k"): _*), "key", nb, schema)(upsertFn)
    val before = snapshot(root)
    val empties = Seq(
      "Seq.empty.toDS" -> Seq.empty[(Long, String)].toDS().toDF("key", "a"),
      "emptyRDD" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "filtered to empty" -> spark.range(1, 41).select(col("id").as("key"), lit("x").as("a"))
        .filter(col("key") < 0),
      "limit(0)" -> df((1L to 40L).map(k => k -> s"x$k"): _*).limit(0))
    empties.foreach { case (what, batch) =>
      // bounded: an observation that never completes must fail, not hang
      val touched = Await.result(
        Future(BucketedDir.merge(spark, root, batch, "key", nb, schema)(upsertFn)), 2.minutes)
      assert(touched == Seq(), what)
      assert(snapshot(root) == before, s"$what rewrote a bucket")
      assert(!Files.exists(Paths.get(root, BucketedDir.StageDir)), s"$what left a stage dir")
    }
  }

  test("an all-NULL-key batch publishes only the null key's bucket") {
    val root = tmp()
    val nb = 8
    val strSchema = StructType(Seq(
      StructField("key", StringType, nullable = true),
      StructField("a", StringType, nullable = true)))
    def rows(rs: Row*) = spark.createDataFrame(rs.asJava, strSchema)
    val unionFn = (stored: Seq[Row], batch: Seq[Row]) => stored ++ batch
    BucketedDir.merge(spark, root, rows((1 to 40).map(i => Row(s"k$i", "v")): _*), "key", nb, strSchema)(unionFn)
    val before = snapshot(root)
    val nullBucket = BucketedDir.routeKey(null, StringType, nb)
    val touched = BucketedDir.merge(spark, root, rows(Row(null, "x"), Row(null, "y")), "key", nb, strSchema)(unionFn)
    assert(touched == Seq(nullBucket))
    val after = snapshot(root)
    assert(after.keySet.filter(b => !before.get(b).contains(after(b))) ==
      Set(BucketedDir.bucketName(nullBucket)))
    assert(BucketedDir.read(spark, root).get.filter("key IS NULL").count() == 2)
  }

  test("a bucket failing to publish fails the merge; the others publish; a re-run completes it") {
    val root = tmp()
    val nb = 8
    val keys = 1L to 40L
    val blocked = bucketOf(1L, nb)
    BucketedDir.merge(spark, root,
      df(keys.filter(bucketOf(_, nb) != blocked).map(k => k -> s"v$k"): _*), "key", nb, schema)(upsertFn)
    // a regular file where the never-written bucket's dir would go
    val blockedPath = Paths.get(root, BucketedDir.bucketName(blocked))
    Files.write(blockedPath, "not a dir".getBytes("UTF-8"))
    def pointers = (0 until nb).filter(_ != blocked).map { b =>
      b -> new String(Files.readAllBytes(Paths.get(root, BucketedDir.bucketName(b), "_CURRENT")), "UTF-8").trim
    }.toMap
    val before = pointers
    def merge() = BucketedDir.merge(spark, root, df(keys.map(k => k -> s"w$k"): _*), "key", nb, schema,
      minVersion = 5L)(upsertFn)
    val e = intercept[Exception](merge())
    assert(e.getMessage.contains(blockedPath.toString), e.getMessage)
    assert(!Files.exists(Paths.get(root, BucketedDir.StageDir, "_SUCCESS")),
      "the stage write leaves no root marker")
    val after = pointers
    assert(before.keys.forall(b => after(b) != before(b)), s"pointers $before -> $after")
    val got = BucketedDir.read(spark, root).get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == keys.filter(bucketOf(_, nb) != blocked).map(k => k -> s"w$k").toMap)
    Files.delete(blockedPath)
    merge()
    val again = BucketedDir.read(spark, root).get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == keys.map(k => k -> s"w$k").toMap)
  }

  test("the empty-bucket publish runs in the caller's job group") {
    import org.apache.spark.sql.graft.Bridge
    val root = tmp()
    val nb = 8
    val victim = 7L
    val vb = bucketOf(victim, nb)
    val keys = (1L to 40L).filter(k => k == victim || bucketOf(k, nb) != vb)
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = nb)
    c.upsert(df(keys.map(k => k -> s"v$k"): _*))
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val ungrouped = sc.statusTracker.getJobIdsForGroup(null).toSet
    val group = "bucketed-empty-publish"
    sc.setJobGroup(group, group)
    try c.delete(Seq(victim)) finally sc.clearJobGroup()
    Bridge.drainListenerBus(sc)
    assert((sc.statusTracker.getJobIdsForGroup(null).toSet -- ungrouped).isEmpty,
      "a merge job ran outside the caller's job group")
    assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    assert(c.pointQuery(victim).isEmpty && c.count() == keys.size - 1)
  }

  test("a non-empty merge runs at most 2 Spark jobs") {
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    import spark.implicits._
    val root = tmp()
    val nb = 8
    BucketedDir.merge(spark, root, df((1L to 40L).map(k => k -> s"v$k"): _*), "key", nb, schema)(upsertFn)
    val Capture.Result(touched, _, jobs, _) = Capture.run(spark) {
      BucketedDir.merge(spark, root, df((1L to 40L).map(k => k -> s"w$k"): _*), "key", nb, schema)(upsertFn)
    }
    assert(touched.size == nb && jobs >= 1 && jobs <= 2, s"a merge touching ${touched.size} buckets ran $jobs jobs")
    val sink = tmp()
    FeatureTableSink.merge(spark, sink, (1 to 40).map(i => KeyFeature(s"k$i", 1, i.toDouble, 1)).toDS(), 0)
    val Capture.Result(_, _, sinkJobs, _) = Capture.run(spark) {
      FeatureTableSink.merge(spark, sink, (1 to 40).map(i => KeyFeature(s"k$i", 2, i.toDouble, 2)).toDS(), 1)
    }
    assert(sinkJobs >= 1 && sinkJobs <= 2, s"a sink merge ran $sinkJobs jobs")
  }

  test("string, long, int, NULL and BINARY keys group by value; other key types fail before any write") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}
    def table(keyType: DataType) = StructType(Seq(
      StructField("key", keyType, nullable = true), StructField("a", StringType, nullable = true)))
    // each key: one stored row, then two batch rows built from distinct
    // objects; the merge must see all three in one group
    val count: (Seq[Row], Seq[Row]) => Seq[Row] =
      (stored, rows) => Seq(Row(rows.head.get(0), s"${stored.size}+${rows.size}"))
    def check(keyType: DataType, keys: Seq[() => Any], show: Any => Any): Unit = {
      val root = tmp()
      val t = table(keyType)
      def rows(a: String) = spark.createDataFrame(keys.map(k => Row(k(), a)).asJava, t)
      BucketedDir.merge(spark, root, rows("seed"), "key", 4, t)((_, rs) => rs)
      BucketedDir.merge(spark, root, rows("x").union(rows("y")), "key", 4, t)(count)
      val got = BucketedDir.read(spark, root).get.collect().map(r => show(r.get(0)) -> r.getString(1))
      assert(got.length == keys.size && got.forall(_._2 == "1+2"), s"${keyType.sql}: ${got.toSeq}")
      assert(got.map(_._1).toSet == keys.map(k => show(k())).toSet, keyType.sql)
      // a point lookup returns the DataFrame filter's row for every key;
      // the NULL key, stored as a row, is a miss as under `===`
      val c = new BucketedParquetConnector(spark, "key", t, root, numBuckets = 4)
      val stored = BucketedDir.read(spark, root).get
      keys.foreach { k =>
        val want = stored.filter(col("key") === lit(k())).collect().headOption
        assert(c.pointQuery(k()) == want, s"${keyType.sql} key ${show(k())}")
        assert(want.isDefined == (k() != null))
      }
    }
    val id: Any => Any = identity
    check(StringType, Seq(() => new String("k1"), () => new String("käse"), () => null), id)
    check(LongType, Seq(() => java.lang.Long.valueOf(1234567L), () => -1L, () => null), id)
    check(IntegerType, Seq(() => 7, () => Int.MinValue, () => null), id)
    check(BinaryType, Seq(() => Array[Byte](1, 2, 3), () => Array[Byte](), () => null),
      k => Option(k).map(_.asInstanceOf[Array[Byte]].toSeq).orNull)
    // an ARRAY key has no grouping value: refused before anything lands
    val root = tmp()
    val arr = table(ArrayType(LongType))
    val e = intercept[IllegalArgumentException](BucketedDir.merge(spark, root,
      spark.createDataFrame(Seq(Row(Seq(1L), "x")).asJava, arr), "key", 4, arr)((_, rs) => rs))
    assert(e.getMessage.contains("only atomic key types"), e.getMessage)
    assert(Files.list(Paths.get(root)).count() == 0, "a refused merge must write nothing")
  }

  test("a hot key with many batch rows and a stored row publishes exactly one latest row") {
    import graft.streaming.FeatureTableSink
    import graft.streaming.StreamingFeatures.KeyFeature
    import spark.implicits._
    val root = tmp()
    // hot: stored ord 5, the batch's 500 rows reach ord 500; cold: the
    // stored ord 1000 outranks every batch row
    FeatureTableSink.merge(spark, root,
      Seq(KeyFeature("hot", 5, -1.0, 9), KeyFeature("cold", 1000, -2.0, 9), KeyFeature("other", 1, 1.0, 1)).toDS(), 0)
    val batch = scala.util.Random.shuffle((1 to 500).flatMap(i =>
      Seq(KeyFeature("hot", i, i.toDouble, i % 7), KeyFeature("cold", i, i.toDouble, 1))))
    FeatureTableSink.merge(spark, root, batch.toDS().repartition(4), 1)
    val t = FeatureTableSink.read(spark, root).as[KeyFeature].collect()
    assert(t.count(_.key == "hot") == 1 && t.count(_.key == "cold") == 1 && t.length == 3)
    assert(t.find(_.key == "hot").get == KeyFeature("hot", 500, 500.0, 500 % 7))
    assert(t.find(_.key == "cold").get == KeyFeature("cold", 1000, -2.0, 9))
  }
}

/** Hadoop's stock checksummed local filesystem under the `stocklocal:`
  * scheme, so a merge can be written through it beside a `file:` merge.
  */
class StockLocalFs extends org.apache.hadoop.fs.LocalFileSystem(
  new org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("stocklocal:///")
  })
