package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes a code path starts, counted from an in-process Java
  * Flight Recording: without libhadoop, Hadoop's local filesystem forks
  * `chmod` and `readlink`, so this is how a spec pins a path fork-free.
  */
object Forks {

  /** The command lines of the processes `body` started that name a path
    * under `dir`. A census fork (`ls dir`) after `body` proves the
    * recording sees forks.
    */
  def under(dir: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      body
      new ProcessBuilder("ls", dir).start().waitFor()
    } finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      val (census, forks) = RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command")).filter(_.contains(dir)).partition(_ == s"ls $dir")
      assert(census.size == 1, "the recording must see the census fork")
      forks
    } finally { rec.close(); Files.delete(dump) }
  }
}
