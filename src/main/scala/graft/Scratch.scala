package graft

import java.io.File
import java.nio.file.Files
import java.util.UUID

/** The one scratch root for on-disk artifacts the corpus writes and reads
  * back: roundtrip sinks, asset corpora, saved index generations. Created
  * on first use, once per JVM, and deleted recursively by one shutdown
  * hook at JVM exit (`File.deleteOnExit` cannot remove a non-empty
  * directory). A write-once artifact is cached per (session, key) in a
  * [[SessionCache]]; its directory lives here either way.
  */
object Scratch {
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_scratch_")
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(r.toFile)))
    r.toString
  }

  /** A fresh path under the root, `prefix` followed by a random UUID; no
    * file or directory exists there yet.
    */
  def path(prefix: String): String = s"$root/$prefix${UUID.randomUUID()}"
}
