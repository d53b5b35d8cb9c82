package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint's file manager (offset log, commit log,
  * state-store files) with no process starts on a local path. Spark's
  * default for a `file:` path goes through `FileContext`, which without
  * libhadoop forks `readlink` on every rename and `chmod` on every temp
  * file: about 95 processes per micro-batch of a stateful stream, each
  * ~5 ms on the offsets/commit path. Here a local path (the test of
  * [[VersionedDir.fs]]) gets Spark's `FileSystemBasedCheckpointFileManager`
  * over [[LocalFs]], routed the way [[VersionedDir.writeOptions]] routes
  * writes, so a rename is one `rename(2)` and `chmod` runs in-process.
  * Any other path gets Spark's own choice. File names and contents are
  * what Spark writes either way (the checksummed local filesystem keeps
  * the `.crc` sidecars), so a checkpoint moves freely between the two
  * managers.
  *
  * The trade-off is Spark's own for every filesystem without a
  * `FileContext`: a non-overwriting rename is an existence check
  * followed by `rename(2)` rather than one atomic no-overwrite rename,
  * so two writers of one checkpoint could race between the two. Spark's
  * query manager already refuses two active runs of one checkpoint.
  *
  * Spark reads the class from the session's Hadoop conf when a query
  * starts and when its state stores load; [[use]] installs it.
  */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private val inner: CheckpointFileManager =
    if (VersionedDir.isLocal(conf, path.toString)) {
      val local = new Configuration(conf)
      VersionedDir.LocalOptions.foreach { case (k, v) => local.set(k, v) }
      new FileSystemBasedCheckpointFileManager(path, local)
    } else {
      val theirs = new Configuration(conf)
      theirs.unset(CheckpointFiles.Key)
      CheckpointFileManager.create(path, theirs)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    inner.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = inner.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = inner.list(p, filter)
  override def mkdirs(p: Path): Unit = inner.mkdirs(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def delete(p: Path): Unit = inner.delete(p)
  override def isLocal: Boolean = inner.isLocal
  override def createCheckpointDirectory(): Path = inner.createCheckpointDirectory()
  override def close(): Unit = inner.close()
}

object CheckpointFiles {

  /** Spark's plug point for the checkpoint file manager. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make the streams `spark` starts from now on write their checkpoints
    * through [[CheckpointFiles]], unless the session or its Hadoop conf
    * already names a manager: a user's choice always wins. A running
    * query keeps the conf it started with. Called where graft builds
    * stateful streaming state or starts a query.
    */
  def use(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty && spark.sparkContext.hadoopConfiguration.get(Key) == null)
      spark.conf.set(Key, classOf[CheckpointFiles].getName)
}
