package graft.state

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with its permission calls made
  * in-process. Without libhadoop, `RawLocalFileSystem` forks `chmod` for
  * every `create` and every new `mkdirs` (a checksummed file twice: the
  * file and its `.crc`), ~5 ms per fork, which a feature-table merge
  * pays ~100 times. Here `setPermission` applies the same mode bits
  * through `java.nio`, so files, `.crc` sidecars and modes stay what
  * Hadoop writes; only the process start goes away. The sticky bit,
  * which nio cannot set, and file stores without a POSIX view take
  * Hadoop's own path. Routed to by [[VersionedDir.fs]] and
  * [[VersionedDir.writeOptions]] for local roots, and by
  * [[CheckpointFiles]] for a local streaming checkpoint, whose offset
  * log, commit log and state-store files it writes and renames.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private var instance: LocalFs = _

  /** One instance for the JVM, initialized from the first caller's conf
    * as Hadoop's own filesystem cache is.
    */
  def shared(conf: Configuration): LocalFs = synchronized {
    if (instance == null) {
      val fs = new LocalFs
      fs.initialize(URI.create("file:///"), conf)
      instance = fs
    }
    instance
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!Posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
  }
}
