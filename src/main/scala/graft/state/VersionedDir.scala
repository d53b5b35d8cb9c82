package graft.state

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Atomically-versioned parquet directory: writers publish `v*` dirs and
  * swap a `_CURRENT` pointer; readers resolve the pointer (falling back
  * to the newest committed version if a swap is mid-flight) and never
  * observe a partial write. Shared by the streaming FeatureTableSink and
  * the batch ParquetConnector.
  */
object VersionedDir {

  def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.drop(1).forall(_.isDigit)) Some(name.drop(1).toLong)
    else None

  /** The filesystem under `root`: one shared [[LocalFs]] for a local
    * root (a `file:` URI, or no scheme under a local default FS),
    * Hadoop's own filesystem otherwise.
    */
  def fs(spark: SparkSession, root: String): FileSystem = fs(spark.sparkContext.hadoopConfiguration, root)

  def fs(conf: Configuration, root: String): FileSystem =
    if (isLocal(conf, root)) LocalFs.shared(conf) else new Path(root).getFileSystem(conf)

  /** Writer options that make a Spark write under `root` create its
    * files through [[LocalFs]] when the root is local (none otherwise).
    * Spark copies writer options into the write job's Hadoop conf, so
    * the parquet writer, commit protocol and stats tracker all see them;
    * the cache is off for the job because Hadoop caches filesystems by
    * scheme, not by implementation.
    */
  private[state] def writeOptions(spark: SparkSession, root: String): Map[String, String] =
    if (!isLocal(spark.sparkContext.hadoopConfiguration, root)) Map.empty else LocalOptions

  /** The Hadoop conf entries that route `file:` paths to [[LocalFs]]. */
  private[state] val LocalOptions =
    Map("fs.file.impl" -> classOf[LocalFs].getName, "fs.file.impl.disable.cache" -> "true")

  private[state] def isLocal(conf: Configuration, root: String): Boolean =
    Option(new Path(root).toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Current version dir: the `_CURRENT` pointer, falling back to the
    * highest committed `v*` directory if the pointer is mid-swap or was
    * lost — a reader never observes an empty table once one exists.
    * Mid-swap includes a pointer that is missing when opened, and one
    * read against its predecessor's checksum: [[swapAndPrune]] deletes
    * the old pointer, then renames the new one data file first, `.crc`
    * second.
    */
  def currentVersion(fs: FileSystem, root: Path): Option[Path] = {
    val fromPtr =
      try {
        val in = fs.open(new Path(root, "_CURRENT"))
        val v = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        Some(new Path(root, v)).filter(fs.exists)
      } catch { case _: FileNotFoundException | _: ChecksumException => None }
    fromPtr.orElse {
      if (!fs.exists(root)) None
      else committedVersions(fs, root).lastOption
    }
  }

  /** All committed `v*` dirs, ascending by version. */
  def committedVersions(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && versionOf(s.getPath.getName).isDefined &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .sortBy(s => versionOf(s.getPath.getName).get)
      .map(_.getPath)

  /** Read the current version (None if never written). */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val rootPath = new Path(root)
    currentVersion(fs(spark, root), rootPath).map(v => spark.read.parquet(v.toString))
  }

  /** Write `df` as a NEW version strictly above the current one (and at
    * least `minVersion`), swap the pointer, and prune superseded version
    * dirs down to the newest `keepVersions` — without pruning, a
    * long-running stream grows storage without bound and the fallback
    * listStatus scan slows with every batch. `keepVersions` >= 2 leaves
    * the previous version for readers that resolved the pointer just
    * before the swap.
    */
  def publish(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      minVersion: Long = 0L,
      keepVersions: Int = 2
  ): Long = {
    val rootPath = new Path(root)
    val hfs = fs(spark, root)
    val nextV = nextVersion(currentVersion(hfs, rootPath), minVersion)
    df.write.mode(SaveMode.Overwrite).options(writeOptions(spark, root))
      .parquet(new Path(rootPath, versionDir(nextV)).toString)
    swapAndPrune(hfs, rootPath, nextV, keepVersions)
    nextV
  }

  def versionDir(v: Long): String = f"v$v%020d"

  /** The version a publish writes: strictly above `current` (a version
    * dir from [[currentVersion]]) and at least `minVersion`.
    */
  def nextVersion(current: Option[Path], minVersion: Long): Long =
    math.max(current.flatMap(p => versionOf(p.getName)).getOrElse(-1L) + 1, minVersion)

  /** Point `_CURRENT` at the committed version `v` under `root`, then
    * prune committed versions down to the newest `keepVersions` — the
    * commit step of every publish, whoever wrote the version dir.
    */
  def swapAndPrune(hfs: FileSystem, root: Path, v: Long, keepVersions: Int): Unit = {
    // pointer swap; read() falls back to the newest committed v* dir if
    // a reader lands inside the delete/rename window
    val tmp = new Path(root, s"_CURRENT.tmp$v")
    val out = hfs.create(tmp, true)
    try out.write(versionDir(v).getBytes("UTF-8")) finally out.close()
    val ptr = new Path(root, "_CURRENT")
    hfs.delete(ptr, false)
    hfs.rename(tmp, ptr)
    if (keepVersions > 0)
      committedVersions(hfs, root).dropRight(keepVersions).foreach(p => hfs.delete(p, true))
  }

  /** Read a SPECIFIC committed version (None if absent/uncommitted) —
    * the time-travel read under [[diffVersions]] and rollback audits.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): Option[DataFrame] = {
    val hfs = fs(spark, root)
    committedVersions(hfs, new Path(root))
      .find(p => versionOf(p.getName).contains(version))
      .map(p => spark.read.parquet(p.toString))
  }

  /** Snapshot diff between two committed versions: one row per key
    * present in either, with `status` added / removed / changed /
    * unchanged — the audit a feature-store publish runs before trusting
    * a swap ("this batch touched 0.1% of keys, not 90%"). Row equality
    * is a deterministic fingerprint (xxhash64 over the non-key columns
    * in sorted-name order) computed scan-side, so the full-outer join
    * carries (key, one long) per side, never the rows themselves.
    */
  def diffVersions(
      spark: SparkSession,
      root: String,
      oldVersion: Long,
      newVersion: Long,
      keyCol: String
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    def keyed(v: Long, fpName: String): DataFrame = {
      val df = readVersion(spark, root, v).getOrElse(
        throw new IllegalArgumentException(s"version $v not committed under $root"))
      val rest = df.columns.filterNot(_ == keyCol).sorted.map(col)
      df.select(col(keyCol).as("key"), xxhash64(rest: _*).as(fpName))
    }
    keyed(oldVersion, "fp_old").join(keyed(newVersion, "fp_new"), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
